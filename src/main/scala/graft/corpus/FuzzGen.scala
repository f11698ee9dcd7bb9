package graft.corpus

import graft.model.{InputDoc, Span}
import graft.corpus.CorpusGen.Rng

/** Adversarial parity-fuzz corpus (deterministic, pure function of the doc
  * index like [[CorpusGen]]): documents built from edge-case fragments the
  * synthetic corpus never produces — whitespace-only paragraphs, unicode,
  * newline-bearing tags, double-escaped entities, attributes containing
  * `>`, empty/missing/folded email headers, quoted-printable soft breaks,
  * wrapped base64, empty PDF pages — plus ~5% deliberately invalid docs
  * (mixed/unknown span kinds) that must route to the error channel.
  *
  * The SAME corpus is run through the executed reference modules by
  * `tools/gen_goldens.py <dir> fuzz`; FuzzParitySpec asserts span-hash
  * equality for every valid doc and error-channel routing for the invalid
  * ones. This is the defense against parity drift OUTSIDE the shapes the
  * main corpus happens to exercise (an empty-valued email header bug was
  * found exactly one step off that path).
  */
object FuzzGen {

  val Seed: Long = 0x667a7a5061726974L
  val NumDocs: Int = 2000

  private val UnicodeWords = Vector(
    "naïve", "über", "crème", "東京都", "données", "złoty", "Ωmega", "résumé")
  private val PlainWords = Vector(
    "ledger", "audit", "remit", "balance", "freight", "terms", "invoice",
    "statement", "subtotal", "wire", "goods", "period")

  private def word(rng: Rng): String =
    if (rng.chance(0.2)) rng.pick(UnicodeWords) else rng.pick(PlainWords)

  private def sentence(rng: Rng): String =
    (0 until rng.range(2, 9)).map(_ => word(rng)).mkString(" ") + "."

  // ---- text fragments --------------------------------------------------

  private def invoiceLine(rng: Rng): String = rng.nextInt(10) match {
    case 0 => s"Invoice Number: INV-${rng.range(1, 99999)}"
    case 1 => s"invoice no: ${rng.range(100, 9999)}"
    case 2 => s"Bill # B-${rng.range(10, 999)}"
    case 3 => s"Total: $$${rng.range(1, 9)},${rng.range(100, 999)}.${rng.range(10, 99)}"
    case 4 => s"amount: ${rng.range(1, 100000)}"
    case 5 => s"due : $$0.${rng.range(1, 9)}"
    case 6 => s"Email: user.${rng.range(1, 99)}+tag@sub.domain${rng.range(1, 9)}.co"
    case 7 => rng.pick(Vector("12/15/2024", "1-2-24", "31/12/99", "Date: 9/9/2029"))
    case 8 => rng.pick(Vector("(555) 123-4567", "555.123.4567", "call 555 123 4567"))
    case 9 => rng.pick(Vector(
      "GSTIN: 22AAAAA0000A1Z5",
      s"PO Number: PO-${rng.range(1, 999)}",
      "P.O. no: 77-ALPHA"))
  }

  private def textFragment(rng: Rng): String = rng.nextInt(10) match {
    case 0 => invoiceLine(rng)
    case 1 => sentence(rng)
    case 2 => rng.pick(Vector(" \t ", "   ", "\t", "")) // whitespace-only para
    case 3 => rng.pick(Vector("*** !!! ---", "$", "#", "- item 1\n- item 2"))
    case 4 => "x" * rng.range(200, 500) // one giant token
    case 5 => sentence(rng) + "\r" // stray CR at EOL
    case 6 => (0 until rng.range(2, 4)).map(_ => sentence(rng)).mkString("\n")
    case 7 => rng.pick(UnicodeWords) + " — " + sentence(rng)
    case 8 => rng.pick(Vector( // Python-only whitespace (str.strip drops,
      "  ", " ", "\f", "", // Java trim/isWhitespace differ)
      "  padded  ", s"${word(rng)}${word(rng)}"))
    case 9 => rng.pick(Vector( // rule-engine near-matches / multi-matches
      "Invoice Number:", "Total: $", "invoice number : A invoice number: B",
      "Total: $1.2.3", "Email: not-an-email@", "Phone: 12345",
      s"Total: $$${rng.range(1, 9)} and Total: $$${rng.range(10, 99)}.99",
      "INVOICE NUMBER: lower-42", "bill no.: X-1 bill #: Y-2",
      // Unicode whitespace inside rule patterns: Python's \s matches
      // NBSP / thin space — ASCII-only \s silently drops these kvs
      "Total: 123.45", "Invoice Number: INV-77",
      "due : $9.50", "phone 555 123 4567"))
  }

  private def textDoc(rng: Rng): String = {
    if (rng.chance(0.04)) return rng.pick(Vector("", " ", "\n", " \n\t \n "))
    val seps = Vector("\n\n", "\n", "\n\n\n", "\n\n\n\n", " ", "\n \n")
    val n = rng.range(1, 7)
    val sb = new StringBuilder
    if (rng.chance(0.2)) sb.append(rng.pick(Vector("\n\n", "  ", "\n")))
    (0 until n).foreach { k =>
      if (k > 0) sb.append(rng.pick(seps))
      sb.append(textFragment(rng))
    }
    if (rng.chance(0.2)) sb.append(rng.pick(Vector("\n\n", " \t", "\n")))
    sb.toString
  }

  // ---- html fragments ----------------------------------------------------

  private def htmlFragment(rng: Rng): String = rng.nextInt(12) match {
    case 0 => s"<p>${sentence(rng)}</p>"
    case 1 => s"""<div class="c${rng.nextInt(9)}">${invoiceLine(rng)}</div>"""
    case 2 => s"<style>body{margin:${rng.nextInt(40)}px}</style>" // content KEPT
    case 3 => "<script>if(a<b){x=1}</script>" // `<b){...}` eats to next '>'
    case 4 => s"<i\nclass=x>${word(rng)}" // newline in tag: NOT stripped
    case 5 => rng.pick(Vector(
      "&amp;lt;b&amp;gt;", "&nbsp;&#39;s", "&unknown; stays", "&quot;q&quot;"))
    case 6 => rng.pick(Vector("<!-- note -->", "<!--\nmultiline -->"))
    case 7 => s"""<a title="x>y">${word(rng)}</a>""" // '>' inside attribute
    case 8 => rng.pick(Vector("<div", "stray > here", "lone < mark", "a < b > c"))
    case 9 => s"<td>${invoiceLine(rng)}</td><br/>"
    case 10 => s"<H1>${sentence(rng).toUpperCase}</H1>"
    case 11 => sentence(rng) // bare text between tags
  }

  private def htmlDoc(rng: Rng): String = {
    val n = rng.range(2, 8)
    val body = (0 until n).map(_ => htmlFragment(rng))
      .mkString(rng.pick(Vector("\n", "\n\n", "")))
    if (rng.chance(0.3)) body // fragment without html/body wrapper
    else s"<html><body>\n$body\n</body></html>"
  }

  // ---- email fragments -----------------------------------------------------

  private def b64Wrapped(rng: Rng, s: String, nl: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .grouped(rng.pick(Vector(40, 60, 76))).mkString(nl)

  private def qpEncode(s: String, nl: String): String =
    s.replace("=", "=3D").replace("€", "=E2=82=AC").replace("\n", nl)

  private def emailBodyText(rng: Rng): String = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += sentence(rng)
    if (rng.chance(0.5)) lines += invoiceLine(rng)
    if (rng.chance(0.3)) lines += "" // blank interior line
    if (rng.chance(0.3)) lines += s"Total due € ${rng.range(1, 999)}"
    lines += sentence(rng)
    lines.mkString("\n")
  }

  private def emailDoc(rng: Rng): String = {
    val nl = if (rng.chance(0.5)) "\r\n" else "\n"
    val sb = new StringBuilder
    def hdr(name: String, v: String): Unit = {
      val n = rng.nextInt(3) match {
        case 0 => name
        case 1 => name.toUpperCase
        case 2 => name.toLowerCase
      }
      sb.append(s"$n: $v$nl")
    }
    // Unix envelope line: consumed by the parser, neither header nor body
    if (rng.chance(0.05)) sb.append(s"From nobody Mon Sep 17 00:00:00 2001$nl")
    hdr("From", s"${word(rng)}@ex${rng.nextInt(9)}.com")
    // ':value' header line (empty name): CPython drops it and KEEPS parsing
    if (rng.chance(0.05)) sb.append(s":orphan value$nl")
    if (rng.chance(0.8)) hdr("To", s"${word(rng)}@dest.org")
    rng.nextInt(4) match {
      case 0 => hdr("Subject", s"Invoice ${rng.range(1, 9999)}")
      case 1 => sb.append(s"Subject:$nl") // EMPTY value: dropped by reference
      case 2 => sb.append(s"Subject: ${word(rng)}$nl ${word(rng)} folded$nl") // folded
      case 3 => () // missing entirely
    }
    if (rng.chance(0.7)) hdr("Date", s"Mon, ${rng.range(1, 28)} Jan 2024 10:00:00 +0000")
    if (rng.chance(0.3)) hdr("Cc", s"cc@ex.com") // excluded from full text
    if (rng.chance(0.2)) hdr("Bcc", s"bcc@ex.com")
    if (rng.chance(0.3)) hdr("X-Custom", "ignored value")

    // Colon-less non-continuation line: CPython's missing-separator defect
    // — the header block ENDS here and this line onward IS the body (any
    // content-type declared below it lands in the body text too)
    if (rng.chance(0.05)) {
      sb.append(s"this line has no colon so headers end$nl")
      sb.append(s"Date: would-have-been-a-header$nl$nl")
      sb.append(sentence(rng)).append(nl)
      return sb.toString
    }

    val body = emailBodyText(rng)
    rng.nextInt(10) match {
      case 0 => // bare single-part, no content-type at all
        sb.append(nl).append(body.replace("\n", nl)).append(nl)
      case 1 => // single-part quoted-printable
        sb.append(s"Content-Type: text/plain; charset=utf-8$nl")
        sb.append(s"Content-Transfer-Encoding: quoted-printable$nl$nl")
        sb.append(qpEncode(body, nl)).append(nl)
      case 2 => // single-part base64
        sb.append(s"Content-Type: text/plain; charset=utf-8$nl")
        sb.append(s"Content-Transfer-Encoding: base64$nl$nl")
        sb.append(b64Wrapped(rng, body, nl)).append(nl)
      case 3 => // multipart: 1-2 text/plain parts + an html part to skip
        val b = s"==b${rng.range(100, 999)}=="
        sb.append(s"""Content-Type: multipart/alternative; boundary="$b"$nl$nl""")
        val nParts = rng.range(1, 2)
        (0 until nParts).foreach { _ =>
          sb.append(s"--$b$nl")
          rng.nextInt(3) match {
            case 0 =>
              sb.append(s"Content-Type: text/plain; charset=utf-8$nl$nl")
              sb.append(body.replace("\n", nl)).append(nl)
            case 1 =>
              sb.append(s"Content-Type: text/plain$nl")
              sb.append(s"Content-Transfer-Encoding: quoted-printable$nl$nl")
              sb.append(qpEncode(body, nl)).append(nl)
            case 2 =>
              sb.append(s"Content-Type: text/plain; charset=utf-8$nl")
              sb.append(s"Content-Transfer-Encoding: base64$nl$nl")
              sb.append(b64Wrapped(rng, body, nl)).append(nl)
          }
        }
        sb.append(s"--$b$nl")
        sb.append(s"Content-Type: text/html; charset=utf-8$nl$nl")
        sb.append(s"<p>html alternative</p>$nl")
        sb.append(s"--$b--$nl")
      case 4 => // multipart boundary-recognition adversaries (FeedParser
        // full-line rule: '--bJUNK' is content, '--b ' is a delimiter,
        // '--b--tail' is content, missing '--b--' still yields the part;
        // 'boundary = "b"' — name stripped by get_param — is valid)
        val b = s"fz${rng.range(10, 99)}"
        val decl = rng.pick(Vector(s"""boundary="$b"""", s"""boundary = "$b""""))
        sb.append(s"Content-Type: multipart/mixed; $decl$nl$nl")
        sb.append(s"--$b${rng.pick(Vector("", " ", "\t", "  "))}$nl")
        sb.append(s"Content-Type: text/plain; charset=utf-8$nl$nl")
        sb.append(sentence(rng)).append(nl)
        if (rng.chance(0.6)) sb.append(s"--${b}not-a-boundary continues$nl")
        if (rng.chance(0.4)) sb.append(s"--$b--but-not-the-end$nl")
        sb.append(sentence(rng)).append(nl)
        rng.nextInt(3) match {
          case 0 => sb.append(s"--$b--$nl") // proper terminator
          case 1 => sb.append(s"--$b--${rng.pick(Vector(" ", "\t "))}$nl")
          case 2 => () // MISSING terminator: open part still counts
        }
      case 5 => // malformed quoted-printable: the binascii.a2b_qp edge
        // cases ('==', trailing '=', '=XZ', '= ', '=\r' line-skip)
        sb.append(s"Content-Type: text/plain; charset=utf-8$nl")
        sb.append(s"Content-Transfer-Encoding: quoted-printable$nl$nl")
        val qpLines = Vector(
          s"double==3Dequals ${word(rng)}",
          s"bad =4Z escape and = space",
          s"soft break=$nl${word(rng)} continues",
          s"literal =ZZ stays",
          s"cr-soft=\rskipped tail$nl${word(rng)} next")
        val picked = (0 until rng.range(2, 4)).map(_ => rng.pick(qpLines)) ++
          (if (rng.chance(0.5)) Seq("ends with equals =") else Seq.empty)
        sb.append(picked.mkString(nl)).append(nl)
      case 6 => // unknown charset: reference's decode raises LookupError,
        // swallowed per part -> the body contributes NOTHING
        sb.append(s"Content-Type: text/plain; charset=bogus-${rng.nextInt(9)}$nl$nl")
        sb.append(body.replace("\n", nl)).append(nl)
      case 7 => // declared boundary that never OPENS a part: CPython's
        // StartBoundaryNotFoundDefect — is_multipart() False, singlepart
        // decode of the surviving payload (whole body, or the preamble
        // before a closing-terminator line with its newline kept)
        val b = s"nb${rng.range(10, 99)}"
        sb.append(s"""Content-Type: multipart/mixed; boundary="$b"$nl""")
        rng.nextInt(3) match {
          case 0 => // boundary absent entirely; top-level CTE must apply
            if (rng.chance(0.5)) {
              sb.append(s"Content-Transfer-Encoding: base64$nl$nl")
              sb.append(b64Wrapped(rng, body, nl)).append(nl)
            } else {
              sb.append(nl).append(body.replace("\n", nl)).append(nl)
            }
          case 1 => // ONLY the closing terminator: payload = the preamble
            sb.append(nl).append(body.replace("\n", nl)).append(nl)
            sb.append(s"--$b--${rng.pick(Vector("", " ", "\t"))}$nl")
            sb.append(s"epilogue ${word(rng)}$nl")
          case 2 => // '--b--junk' is CONTENT, not a terminator
            sb.append(nl)
            sb.append(s"pre ${word(rng)}$nl--$b--junk$nl${sentence(rng)}$nl")
        }
      case 8 => // charset-ALIAS spellings Python's codec registry resolves
        // (Java's Charset.forName alone rejects most of these): the part
        // must decode, not collapse to "" like the bogus-charset wave
        val (alias, javaCs, payload) = rng.pick(Vector(
          ("latin-1", "ISO-8859-1", "café au lait"),
          ("latin_1", "ISO-8859-1", "naïve résumé"),
          ("LATIN1", "ISO-8859-1", "über draft"),
          ("l1", "ISO-8859-1", "plain ascii body"),
          ("iso8859", "ISO-8859-1", "¡Hola señor!"),
          ("cp1252", "windows-1252", "dash – euro €"),
          ("windows_1252", "windows-1252", "quotes ‘x’ and “y”"),
          ("1252", "windows-1252", "ellipsis … here"),
          ("us_ascii", "US-ASCII", "seven bit text"),
          ("646", "US-ASCII", "ancient alias"),
          ("utf8", "UTF-8", "données 東京都"),
          ("UTF", "UTF-8", "crème brûlée"),
          ("cp65001", "UTF-8", "złoty Ωmega"),
          ("macintosh", "x-MacRoman", "café mac • note"),
          ("koi8_r", "KOI8-R", "Привет мир"),
          ("cyrillic", "ISO-8859-5", "текст письма"),
          ("greek", "ISO-8859-7", "ελληνικά"),
          ("hebrew", "ISO-8859-8", "שלום"),
          ("shift_jis", "Shift_JIS", "日本語テキスト"),
          ("sjis", "Shift_JIS", "カタカナ"),
          ("euc_jp", "EUC-JP", "漢字かな"),
          ("gb2312", "GB2312", "中文文本"),
          ("gbk", "GBK", "中文字符"),
          ("big5", "Big5", "中文測試"),
          ("tis-620", "TIS-620", "ภาษาไทย")))
        sb.append(s"Content-Type: text/plain; charset=$alias$nl")
        sb.append(s"Content-Transfer-Encoding: base64$nl$nl")
        val bytes = payload.getBytes(java.nio.charset.Charset.forName(javaCs))
        sb.append(java.util.Base64.getEncoder.encodeToString(bytes)).append(nl)
      case 9 => // python-only codecs (no/different JVM twin): utf-7 bodies
        // and BOM-less/BOM'd utf-16/32 — decoded by the from-scratch
        // PyCompat decoders; the reference goes through CPython's registry
        rng.nextInt(3) match {
          case 0 => // utf-7: well-formed sections (pre-encoded with CPython)
            // plus adversarial raw sections exercising error-ignore paths
            val payload = rng.pick(Vector(
              "Caf+AOk +ANc d+AOk-j+AOA vu", // Café × déjà vu
              "emoji +2D3cqQ pair", // astral surrogate pair
              "price +IKw-49 +IBQ deal", // € and em-dash
              "+A6kDvAOtA7MDsQ +A8QDrQO7A78Dwg-", // Ωμέγα τέλος
              "plain seven bit",
              "literal +- plus and +AOk", // '+-' then EOF-terminated section
              "broken +A tail", // partial char: section dropped
              "x+ACEAIQ bang", // '+' terminatorless zero-pad
              "lone +2D0- surrogate kept"))
            sb.append(s"Content-Type: text/plain; charset=${rng.pick(
                Vector("utf-7", "UTF-7", "u7", "utf_7"))}$nl$nl")
            sb.append(payload).append(nl)
          case 1 => // utf-16: Python defaults BOM-less to LE (Java: BE)
            val payload = s"${sentence(rng)}\nTotal € ${rng.range(1, 99)}"
            val (bytes, cs) = rng.nextInt(3) match {
              case 0 => (payload.getBytes("UTF-16LE"), "utf-16") // BOM-less→LE
              case 1 => (Array[Byte](0xFF.toByte, 0xFE.toByte) ++
                payload.getBytes("UTF-16LE"), "utf16")
              case 2 => (Array[Byte](0xFE.toByte, 0xFF.toByte) ++
                payload.getBytes("UTF-16BE"), "u16")
            }
            sb.append(s"Content-Type: text/plain; charset=$cs$nl")
            sb.append(s"Content-Transfer-Encoding: base64$nl$nl")
            sb.append(java.util.Base64.getEncoder.encodeToString(bytes)).append(nl)
          case 2 => // utf-32, same LE default with 4-byte BOMs
            val payload = s"${word(rng)} u32 ${word(rng)}"
            def u32le(s: String): Array[Byte] =
              s.codePoints().toArray.flatMap(cp => Array[Byte](
                (cp & 0xff).toByte, ((cp >> 8) & 0xff).toByte,
                ((cp >> 16) & 0xff).toByte, ((cp >> 24) & 0xff).toByte))
            val (bytes, cs) = rng.nextInt(2) match {
              case 0 => (u32le(payload), "utf-32")
              case 1 => (Array[Byte](0xFF.toByte, 0xFE.toByte, 0, 0) ++
                u32le(payload), "utf_32")
            }
            sb.append(s"Content-Type: text/plain; charset=$cs$nl")
            sb.append(s"Content-Transfer-Encoding: base64$nl$nl")
            sb.append(java.util.Base64.getEncoder.encodeToString(bytes)).append(nl)
        }
    }
    sb.toString
  }

  // ---- pdf pages ----------------------------------------------------------

  private def pdfPages(rng: Rng): Seq[String] =
    (1 to rng.range(1, 8)).map { p =>
      rng.nextInt(5) match {
        case 0 => "" // empty page: '\n' still appended to full text
        case 1 => "  \n \t " // whitespace-only: no layout element
        case 2 => s"${invoiceLine(rng)}\n\n${sentence(rng)}"
        case 3 => sentence(rng)
        case 4 => (0 until rng.range(1, 3)).map(_ => sentence(rng)).mkString("\n\n")
      }
    }

  // ---- assembly -------------------------------------------------------------

  def gen(i: Long): InputDoc = {
    val rng = new Rng(Seed ^ (i * 0x9e3779b97f4a7c15L + 0x452821e638d01377L))
    val docId = f"fuzz_$i%06d"
    val roll = rng.nextDouble()
    val content: Seq[(String, String)] =
      if (roll < 0.30) Seq("text" -> textDoc(rng))
      else if (roll < 0.60) Seq("html" -> htmlDoc(rng))
      else if (roll < 0.85) Seq("email" -> emailDoc(rng))
      else if (roll < 0.95) pdfPages(rng).map("pdf_page" -> _)
      else if (rng.chance(0.5)) Seq("blob" -> sentence(rng)) // unknown kind
      else Seq("text" -> sentence(rng), "html" -> s"<p>${word(rng)}</p>") // mixed

    val nMedia = if (rng.chance(0.4)) rng.range(1, 3) else 0
    val media = (0 until nMedia).map { k =>
      (rng.nextInt(content.length + 1), s"media://fuzz/${docId}_$k")
    }.sortBy(_._1)

    CorpusGen.assemble(docId, content, media) // shared doc-shape assembler
  }

  /** True when the doc is one of the deliberately-invalid shapes that must
    * route to the error channel (mirrors the golden harness's skip rule).
    */
  def isInvalid(doc: InputDoc): Boolean = {
    val kinds = doc.spans.filter(_.kind != "media").map(_.kind).distinct.sorted
    !(kinds == Seq("email") || kinds == Seq("html") || kinds == Seq("pdf_page") ||
      kinds == Seq("text"))
  }
}

/** Write the fuzz corpus: runMain graft.corpus.FuzzGenMain <outDir> */
object FuzzGenMain {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/data/docs/fuzz")
    val spark = graft.jobs.JobSession.build("graft-fuzz-gen")
    import spark.implicits._
    spark.range(0, FuzzGen.NumDocs, 1, 8)
      .map(i => FuzzGen.gen(i))
      .write.mode("overwrite").parquet(out)
    println(s"wrote ${FuzzGen.NumDocs} fuzz docs to $out")
    spark.stop()
  }
}
