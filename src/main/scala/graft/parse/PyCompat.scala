package graft.parse

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

/** Python string/number-semantics parity helpers.
  *
  * The reference parser is CPython; golden equality (FIXTURES.md §4) requires
  * reproducing Python's `str.strip()`, `str.split()`, `str.split('\n\n')` and
  * `repr(float)` exactly (SURVEY §7.3 R3/R4). Pure Scala, no Spark deps.
  */
object PyCompat {

  /** Characters Python's `str.strip()` / `str.split()` treat as whitespace
    * (`unicodedata` WS/B/S bidirectional classes + category Zs). Differs from
    * Java's `Character.isWhitespace` on U+0085/U+00A0/U+180E edge cases.
    */
  def isPySpace(c: Char): Boolean = c match {
    case '\t' | '\n' | '\u000B' | '\f' | '\r' | '\u001C' | '\u001D' |
        '\u001E' | '\u001F' | ' ' | '\u0085' => true
    case _ => Character.getType(c) == Character.SPACE_SEPARATOR ||
        Character.getType(c) == Character.LINE_SEPARATOR ||
        Character.getType(c) == Character.PARAGRAPH_SEPARATOR
  }

  /** Python `str.strip()`. */
  def pyStrip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isPySpace(s.charAt(i))) i += 1
    while (j > i && isPySpace(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  /** Python `str.split()` (no args): split on whitespace runs, drop empties. */
  def pySplitWs(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isPySpace(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isPySpace(s.charAt(i))) i += 1
        out += s.substring(start, i)
      }
    }
    out.toArray
  }

  /** Python word count `len(s.split())`. */
  def pyWordCount(s: String): Int = {
    var count = 0
    var i = 0
    val n = s.length
    var inWord = false
    while (i < n) {
      val sp = isPySpace(s.charAt(i))
      if (!sp && !inWord) { count += 1; inWord = true }
      else if (sp) inWord = false
      i += 1
    }
    count
  }

  /** Python `s.split(sep)` for a literal separator (keeps empty fields,
    * left-to-right non-overlapping) — e.g. `'\n\n'` paragraph splitting
    * (`pipeline.py:412`).
    */
  def pySplitLit(s: String, sep: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var idx = s.indexOf(sep, start)
    while (idx >= 0) {
      out += s.substring(start, idx)
      start = idx + sep.length
      idx = s.indexOf(sep, start)
    }
    out += s.substring(start)
    out.toArray
  }

  /** Python `repr(float)` — shortest decimal string that round-trips, with
    * Python's positional/exponential switch (exp < -4 or >= 16). Needed for
    * the canonical `str(value)` rendering of float-typed kvs (R4).
    */
  def pyFloatRepr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d == Double.PositiveInfinity) return "inf"
    if (d == Double.NegativeInfinity) return "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    // Shortest round-tripping significand: round to p significant digits for
    // growing p; the nearest p-digit decimal is the only candidate at that p.
    val exact = new JBigDecimal(d)
    var p = 1
    var short: JBigDecimal = null
    while (short == null && p <= 17) {
      val cand = exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
      if (cand.doubleValue() == d) short = cand
      p += 1
    }
    val r = short.stripTrailingZeros()
    val digits = r.unscaledValue().abs().toString
    val adjExp = digits.length - 1 - r.scale() // exponent of leading digit
    val neg = d < 0
    val sb = new StringBuilder(if (neg) "-" else "")
    if (adjExp >= -4 && adjExp < 16) {
      if (adjExp >= digits.length - 1) {
        // integral value: digits then zeros then ".0"
        sb.append(digits)
        var k = digits.length - 1
        while (k < adjExp) { sb.append('0'); k += 1 }
        sb.append(".0")
      } else if (adjExp >= 0) {
        sb.append(digits.substring(0, adjExp + 1)).append('.')
          .append(digits.substring(adjExp + 1))
      } else {
        sb.append("0.")
        var k = -1
        while (k > adjExp) { sb.append('0'); k -= 1 }
        sb.append(digits)
      }
    } else {
      sb.append(digits.substring(0, 1))
      if (digits.length > 1) sb.append('.').append(digits.substring(1))
      sb.append('e')
      sb.append(if (adjExp < 0) '-' else '+')
      val ae = math.abs(adjExp)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    }
    sb.toString
  }

  /** `bytes.decode('utf-7', errors='ignore')` — a from-scratch twin of
    * CPython's UTF-7 decoder (the JVM ships no utf-7 charset; without this
    * the reference decodes utf-7 email parts the engine dropped to "").
    * Decode-relevant semantics, each verified live against CPython and
    * pinned by a 60k-case random cross-check plus the PyCompatSpec corpus:
    *
    *  - direct mode: any byte < 128 except '+' decodes as itself; bytes
    *    >= 128 are errors (ignored = dropped);
    *  - '+-' is a literal '+'; '+' followed by a non-base64 byte is an
    *    ill-formed sequence consuming BOTH bytes; otherwise '+' opens a
    *    base64 section ('+' and '/' are themselves base64 chars inside);
    *  - base64 bits accumulate into 16-bit UTF-16 units, emitted as-is
    *    (lone surrogates included — CPython emits them and so does this);
    *    a HIGH surrogate is buffered one unit so an error can drop it the
    *    way CPython's pending `surrogate` variable does;
    *  - a non-base64 byte ends the section: leftover bits >= 6, or any
    *    nonzero leftover bits, is a "partial character" error that ALSO
    *    consumes the terminating byte ('+AOkAx' → 'é', live-verified);
    *    otherwise a '-' terminator is absorbed, any other byte is
    *    reprocessed in direct mode, and a pending high surrogate is
    *    flushed only when that byte is direct-decodable ('+2D0\xe9x' →
    *    'x': the surrogate silently drops, live-verified);
    *  - EOF inside a section errors (dropping the pending surrogate) iff
    *    a surrogate is pending, bits >= 6 remain, or leftover bits are
    *    nonzero ('+2D0' → '', '+AOk' → 'é').
    */
  def pyDecodeUtf7Ignore(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length)
    val n = bytes.length
    var i = 0
    var inShift = false
    var bits = 0
    var buf = 0L
    var surrogate = 0 // pending high-surrogate unit; 0 = none
    def b64(c: Int): Int =
      if (c >= 'A' && c <= 'Z') c - 'A'
      else if (c >= 'a' && c <= 'z') c - 'a' + 26
      else if (c >= '0' && c <= '9') c - '0' + 52
      else if (c == '+') 62
      else if (c == '/') 63
      else -1
    def emit(unit: Int): Unit = {
      if (surrogate != 0) { sb.append(surrogate.toChar); surrogate = 0 }
      if (unit >= 0xD800 && unit <= 0xDBFF) surrogate = unit
      else sb.append(unit.toChar)
    }
    while (i < n) {
      val c = bytes(i) & 0xff
      if (inShift) {
        val v = b64(c)
        if (v >= 0) {
          buf = (buf << 6) | v; bits += 6; i += 1
          if (bits >= 16) {
            bits -= 16
            emit(((buf >> bits) & 0xffff).toInt)
            buf &= (1L << bits) - 1
          }
        } else {
          inShift = false
          if (bits >= 6 || (bits > 0 && buf != 0)) {
            i += 1; surrogate = 0 // error consumes the terminator too
          } else {
            if (surrogate != 0 && c < 128 && c != '+') sb.append(surrogate.toChar)
            surrogate = 0
            if (c == '-') i += 1 // '-' absorbed; other terminators reprocess
          }
          bits = 0; buf = 0
        }
      } else if (c == '+') {
        i += 1
        if (i < n && bytes(i) == '-') { i += 1; sb.append('+') }
        else if (i < n && b64(bytes(i) & 0xff) < 0) i += 1 // ill-formed: both dropped
        else { inShift = true; bits = 0; buf = 0; surrogate = 0 }
      } else if (c < 128) { sb.append(c.toChar); i += 1 }
      else i += 1 // unexpected special character: dropped
    }
    // EOF in shift: pending surrogate / >=6 bits / nonzero padding all error
    // under strict; ignore drops only the un-flushed state — written output
    // stays, so nothing more to do here
    sb.toString
  }

  /** `bytes.decode('utf-16', errors='ignore')`: CPython's BOM-less default
    * is LITTLE-endian (Java's is big) — FF FE / FE FF BOMs are consumed,
    * anything else decodes LE from byte 0. Decoded manually, unit-wise,
    * because drop granularity differs from Java's decoder on malformed
    * input: CPython drops an unpaired HIGH surrogate alone (2 bytes) and
    * re-examines the following unit, where Java's UTF-16 decoder swallows
    * the follower too — b'\xc2\xda\xd5\x180' must give 'ᣕ', not ''
    * (live-verified; pinned by the 68k-case random cross-check).
    */
  def pyDecodeUtf16Ignore(bytes: Array[Byte]): String = {
    val n = bytes.length
    val b = (i: Int) => bytes(i) & 0xff
    val (be, off) =
      if (n >= 2 && b(0) == 0xFF && b(1) == 0xFE) (false, 2)
      else if (n >= 2 && b(0) == 0xFE && b(1) == 0xFF) (true, 2)
      else (false, 0)
    def unit(i: Int): Int = if (be) (b(i) << 8) | b(i + 1) else (b(i + 1) << 8) | b(i)
    val sb = new StringBuilder((n - off) / 2)
    var i = off
    while (i + 1 < n) {
      val u = unit(i)
      if (u >= 0xD800 && u <= 0xDBFF) {
        if (i + 3 < n) {
          val u2 = unit(i + 2)
          if (u2 >= 0xDC00 && u2 <= 0xDFFF) {
            sb.append(u.toChar).append(u2.toChar); i += 4
          } else i += 2 // unpaired high surrogate: drop it alone
        } else i += 2 // high surrogate at end: dropped
      } else if (u >= 0xDC00 && u <= 0xDFFF) i += 2 // lone low: dropped
      else { sb.append(u.toChar); i += 2 }
    }
    sb.toString // trailing odd byte dropped (truncated data error, ignored)
  }

  /** `bytes.decode('utf-32', errors='ignore')`: same LE default with the
    * 4-byte BOMs (FF FE 00 00 / 00 00 FE FF) consumed; each 4-byte word
    * outside [0, 10FFFF] or in the surrogate range drops alone, and a
    * trailing partial word drops.
    */
  def pyDecodeUtf32Ignore(bytes: Array[Byte]): String = {
    val n = bytes.length
    val b = (i: Int) => bytes(i) & 0xff
    val (be, off) =
      if (n >= 4 && b(0) == 0xFF && b(1) == 0xFE && b(2) == 0 && b(3) == 0)
        (false, 4)
      else if (n >= 4 && b(0) == 0 && b(1) == 0 && b(2) == 0xFE && b(3) == 0xFF)
        (true, 4)
      else (false, 0)
    val sb = new java.lang.StringBuilder((n - off) / 4)
    var i = off
    while (i + 3 < n) {
      val cp =
        if (be) (b(i) << 24) | (b(i + 1) << 16) | (b(i + 2) << 8) | b(i + 3)
        else (b(i + 3) << 24) | (b(i + 2) << 16) | (b(i + 1) << 8) | b(i)
      if (cp >= 0 && cp <= 0x10FFFF && !(cp >= 0xD800 && cp <= 0xDFFF))
        sb.appendCodePoint(cp)
      i += 4
    }
    sb.toString
  }

  /** Hex digest helpers (reference uses md5[:8] and sha1[:12] hex). */
  def md5Hex(s: String): String = hex(digest("MD5", s))
  def sha1Hex(s: String): String = hex(digest("SHA-1", s))
  def sha256Hex(s: String): String = hex(digest("SHA-256", s))

  private def digest(algo: String, s: String): Array[Byte] =
    java.security.MessageDigest.getInstance(algo)
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private val HexDigits = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexDigits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}
