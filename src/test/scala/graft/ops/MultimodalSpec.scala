package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Multimodal plumbing shapes: frame sampling (1 row in, every stride-th
  * fixed-size frame out) and the PPM decoder's header grammar and
  * round-trip sums.
  */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession("multimodal-spec", 8)

  test("sampleFrames: every stride-th fixed-size frame, ragged tail kept") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // 1000 bytes of value 7, frameSize 256 → frames 0..3 (sizes 256,256,256,232),
    // stride 3 → sampled idx 0 and 3
    val media = Seq(MultimodalOps.MediaRow(1L, Array.fill(1000)(7.toByte))).toDS()
    val frames = MultimodalOps.sampleFrames(media, frameSize = 256, stride = 3)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 3))
    assert(frames.map(_.frame_bytes).toSeq == Seq(256, 232))
    frames.foreach(f => assert(f.mean_byte == 7.0))
    // empty payload → zero frames
    val none = MultimodalOps.sampleFrames(
      Seq(MultimodalOps.MediaRow(2L, Array.empty[Byte])).toDS()).collect()
    assert(none.isEmpty)
  }

  test("PPM decoder: header grammar (comments, whitespace runs, multi-digit dims), exact sums") {
    val d = new MultimodalOps.PpmDecoder
    // 2x1, pixels (1,2,3) (250,251,252)
    val simple = "P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 250.toByte, 251.toByte, 252.toByte)
    assert(d.decode(simple).contains(
      MultimodalOps.PpmImage(2, 1, 255, 251, 253, 255)))
    // comments anywhere in header whitespace, tabs/CRLF separators
    val commented = ("P6 # trailing comment\n# full line\n\t 2\r\n# mid\n 1 " +
      "\n# before maxval\n255\n").getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4, 5, 6)
    assert(d.decode(commented).contains(
      MultimodalOps.PpmImage(2, 1, 255, 5, 7, 9)))
    // multi-digit dims: 12x3 image of constant 9s
    val wide = "P6\n12 3\n255\n".getBytes("US-ASCII") ++
      Array.fill(12 * 3 * 3)(9.toByte)
    assert(d.decode(wide).contains(
      MultimodalOps.PpmImage(12, 3, 255, 324, 324, 324)))
    // malformed: wrong magic / truncated raster / maxval out of range /
    // missing dimension — all route to None, never a guess
    assert(d.decode("P5\n2 1\n255\n??????".getBytes("US-ASCII")).isEmpty)
    assert(d.decode(("P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3)).toArray).isEmpty)
    assert(d.decode("P6\n2 1\n65535\n".getBytes("US-ASCII") ++
      Array.fill(12)(0.toByte)).isEmpty)
    assert(d.decode("P6\n2\n255\n".getBytes("US-ASCII")).isEmpty)
    assert(d.decode(Array.empty[Byte]).isEmpty)
  }

  test("PPM generator round-trips through the decoder with closed-form sums") {
    val d = new MultimodalOps.PpmDecoder
    Seq(0L, 5L, 17L, 255L, 256L, 9999L).foreach { id =>
      val img = d.decode(MultimodalOps.ppmPayload(id)).get
      val (w, h, a) = ((4 + id % 13).toInt, (3 + id % 7).toInt, (id % 256).toInt)
      assert(img.width == w && img.height == h && img.maxval == 255)
      // independent recomputation of the channel sums
      var (sr, sg, sb) = (0L, 0L, 0L)
      (0 until w * h * 3).foreach { i =>
        val v = (a + i) % 256
        (i % 3: @unchecked) match {
          case 0 => sr += v; case 1 => sg += v; case 2 => sb += v
        }
      }
      assert((img.sum_r, img.sum_g, img.sum_b) == ((sr, sg, sb)), s"id $id")
    }
  }
}
