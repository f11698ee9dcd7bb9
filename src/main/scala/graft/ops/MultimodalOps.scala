package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, decoded/feature-extracted in batches inside a typed
  * `mapPartitions` with POOLED decoder state (the Spark-side shape a real
  * image/audio pipeline needs).
  *
  * Two codecs: [[PpmDecoder]] is a REAL from-scratch decoder for binary
  * PPM (netpbm P6) — header parse with comment/whitespace handling plus
  * per-channel pixel sums — value-checked against a DuckDB oracle that
  * re-derives header fields and channel sums by independent arithmetic
  * (query m2). [[sampleFrames]] is the 1-row-in/k-rows-out frame-sampling
  * shape a video sampler has (query m3). Codec-library formats
  * (jpeg/ffmpeg) are not decoded.
  */
object MultimodalOps {

  /** Oracle-checked metadata pass: treat text as the binary payload;
    * byte length + sha256 content address (pure codegen'd columns).
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        octet_length(col("text")).cast("int").as("byte_len"),
        sha2(col("text").cast("binary"), 256).as("sha256"))
      .orderBy("doc_id")

  def mediaFeaturesSql: String =
    """SELECT doc_id, CAST(octet_length(text::BLOB) AS INT) AS byte_len,
       sha256(text) AS sha256
       FROM documents ORDER BY doc_id"""

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class Frame(
      doc_id: Long,
      frame_idx: Int,
      frame_bytes: Int,
      mean_byte: Double)

  /** Frame-sampling plumbing (the video analog): split the payload into
    * fixed-size "frames" and emit every `stride`-th one — the 1-row-in /
    * k-rows-out explode shape a real ffmpeg sampler has. There is no
    * decoder and no per-partition state: each sampled frame's mean byte
    * value is averaged inline, standing in for a decode.
    */
  def sampleFrames(
      media: Dataset[MediaRow],
      frameSize: Int = 256,
      stride: Int = 3): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { iter =>
      iter.flatMap { m =>
        val n = m.payload.length
        val nFrames = (n + frameSize - 1) / frameSize
        (0 until nFrames by stride).iterator.map { k =>
          val from = k * frameSize
          val until = math.min(n, from + frameSize)
          var s = 0L
          var i = from
          while (i < until) { s += (m.payload(i) & 0xff); i += 1 }
          Frame(m.doc_id, k, until - from,
            if (until > from) s.toDouble / (until - from) else 0.0)
        }
      }
    }
  }

  /** Oracle-checked driver query: per-doc sampled-frame counts + sampled
    * bytes. DuckDB re-derives both from `octet_length` arithmetic (frames
    * of 256 bytes, every 3rd sampled, short last frame when it falls on a
    * sampled index) — verifying the 1-row-in/k-out explode shape end to
    * end. The per-frame decode itself (mean byte value) stays covered by
    * MultimodalSpec's hand-computed fixture: SQL can't index into blob
    * bytes portably, and the stub decode is engine-side by design.
    */
  def frameSampleStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaRow]
    sampleFrames(media)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames_sampled"),
        sum(col("frame_bytes")).as("bytes_sampled"))
      .orderBy("doc_id")
  }

  /** Mirrors [[sampleFrames]]' defaults: frameSize=256, stride=3. A doc
    * samples ceil(nf/3) of its nf=ceil(n/256) frames; the last frame is
    * short (n mod 256) and is sampled exactly when (nf-1) % 3 = 0.
    */
  def frameSampleStatsSql: String =
    """WITH b AS (SELECT doc_id, octet_length(text::BLOB) AS n,
           (octet_length(text::BLOB) + 255) // 256 AS nf
         FROM documents WHERE octet_length(text::BLOB) > 0)
       SELECT doc_id, CAST((nf + 2) // 3 AS BIGINT) AS n_frames_sampled,
         CAST(((nf + 2) // 3 - 1) * 256 +
           CASE WHEN (nf - 1) % 3 = 0 THEN n - 256 * (nf - 1) ELSE 256 END
           AS BIGINT) AS bytes_sampled
       FROM b ORDER BY doc_id"""

  // ---- real codec: binary PPM (netpbm P6) ----------------------------------

  final case class PpmImage(
      width: Int,
      height: Int,
      maxval: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long)

  /** From-scratch binary-PPM (P6) decoder — a REAL image codec for the one
    * raster format trivially parseable without native libraries. Grammar
    * (netpbm spec): `P6`, then width, height, maxval as ASCII decimals
    * separated by whitespace runs in which `#`-to-end-of-line comments may
    * appear, then a SINGLE whitespace byte, then width×height×3 raw
    * samples (maxval ≤ 255 ⇒ one byte per sample). Malformed input (wrong
    * magic, missing header fields, maxval out of range, truncated pixel
    * data) returns None — the error channel, not a guess.
    */
  final class PpmDecoder {
    def decode(bytes: Array[Byte]): Option[PpmImage] = {
      val n = bytes.length
      var i = 0
      def skipWsAndComments(): Unit = {
        var go = true
        while (go && i < n) {
          val c = bytes(i)
          if (c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0x0b)
            i += 1
          else if (c == '#') { while (i < n && bytes(i) != '\n') i += 1 }
          else go = false
        }
      }
      def readInt(): Int = {
        skipWsAndComments()
        val start = i
        var v = 0L
        while (i < n && bytes(i) >= '0' && bytes(i) <= '9' && v <= Int.MaxValue) {
          v = v * 10 + (bytes(i) - '0'); i += 1
        }
        if (i == start || v > Int.MaxValue) -1 else v.toInt
      }
      if (n < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
      i = 2
      val w = readInt()
      val h = readInt()
      val maxval = readInt()
      if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255) return None
      // exactly ONE whitespace byte separates maxval from the raster
      if (i >= n || !(bytes(i) == ' ' || bytes(i) == '\t' || bytes(i) == '\r' ||
        bytes(i) == '\n')) return None
      i += 1
      val need = w.toLong * h * 3
      if (n - i < need) return None // truncated raster
      var (sr, sg, sb) = (0L, 0L, 0L)
      var p = 0L
      while (p < need) {
        val base = (i + p).toInt
        sr += bytes(base) & 0xff
        sg += bytes(base + 1) & 0xff
        sb += bytes(base + 2) & 0xff
        p += 3
      }
      Some(PpmImage(w, h, maxval, sr, sg, sb))
    }
  }

  /** Deterministic PPM payload for a doc id — the committed media-blob
    * generator (no external data): w = 4 + id%13, h = 3 + id%7, a comment
    * line carrying the id (exercises the parser's comment path), pixel
    * byte i = (id%256 + i) mod 256. Every field is pure arithmetic on the
    * id, so DuckDB re-derives header AND channel sums independently.
    */
  def ppmPayload(docId: Long): Array[Byte] = {
    val w = (4 + docId % 13).toInt
    val h = (3 + docId % 7).toInt
    val a = (docId % 256).toInt
    val header = s"P6\n# graft $docId\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    val np = w * h * 3
    while (i < np) { out(header.length + i) = ((a + i) % 256).toByte; i += 1 }
    out
  }

  final case class PpmRow(doc_id: Long, payload: Array[Byte])

  /** Oracle-checked REAL decode: build each doc's PPM blob, then parse it
    * back with the pooled [[PpmDecoder]] — width/height/maxval from the
    * HEADER BYTES, channel sums from the RASTER BYTES — while DuckDB
    * re-derives the same values by independent arithmetic on doc_id.
    * A decoder that mis-parsed the header, mis-ordered channels, or
    * mis-counted the raster would hash-mismatch immediately.
    */
  def mediaPpmDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"))
      .as[Long]
      .map(id => PpmRow(id, ppmPayload(id)))
      .mapPartitions { iter =>
        val decoder = new PpmDecoder // pooled per-partition state
        iter.map { r =>
          val img = decoder.decode(r.payload).getOrElse(
            throw new IllegalStateException(s"undecodable PPM for ${r.doc_id}"))
          (r.doc_id, r.payload.length, img.width, img.height, img.maxval,
            img.sum_r, img.sum_g, img.sum_b)
        }
      }
      .toDF("doc_id", "byte_len", "width", "height", "maxval",
        "sum_r", "sum_g", "sum_b")
      .orderBy("doc_id")
  }

  /** Mirrors [[ppmPayload]]'s arithmetic: header = "P6\n# graft <id>\n<w>
    * <h>\n255\n" (byte_len adds the digit lengths), channel c sum =
    * Σ_{i≡c (mod 3)} (id%256 + i) mod 256 over w·h·3 sample bytes. The
    * fixed series bound is the generator's max raster (w≤16, h≤9).
    */
  def mediaPpmDecodeSql: String =
    """WITH d AS (
         SELECT CAST(doc_id AS BIGINT) AS doc_id,
           4 + CAST(doc_id AS BIGINT) % 13 AS w,
           3 + CAST(doc_id AS BIGINT) % 7 AS h,
           CAST(doc_id AS BIGINT) % 256 AS a
         FROM documents),
       s AS (SELECT i FROM generate_series(0, 16*9*3 - 1) AS t(i)),
       px AS (
         SELECT d.doc_id, d.w, d.h, d.a,
           SUM(CASE WHEN s.i % 3 = 0 THEN (d.a + s.i) % 256 ELSE 0 END) AS sum_r,
           SUM(CASE WHEN s.i % 3 = 1 THEN (d.a + s.i) % 256 ELSE 0 END) AS sum_g,
           SUM(CASE WHEN s.i % 3 = 2 THEN (d.a + s.i) % 256 ELSE 0 END) AS sum_b
         FROM d JOIN s ON s.i < d.w * d.h * 3
         GROUP BY d.doc_id, d.w, d.h, d.a)
       SELECT doc_id,
         CAST(18 + len(CAST(doc_id AS VARCHAR)) + len(CAST(w AS VARCHAR)) +
           len(CAST(h AS VARCHAR)) + w * h * 3 AS INT) AS byte_len,
         CAST(w AS INT) AS width, CAST(h AS INT) AS height, 255 AS maxval,
         CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
         CAST(sum_b AS BIGINT) AS sum_b
       FROM px ORDER BY doc_id"""
}
