package graft.parse

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.corpus.CorpusGen
import graft.model.{KeyValue, LayoutElement, OutSpan, Rule}

/** Property-based invariants (SURVEY §5.2 item 2) over the pure parse core
  * and the deterministic corpus generator. Plain scalacheck `Properties`
  * (sbt runs it natively; the scalatest bridge artifact is not in the
  * offline cache).
  */
object PropertySpec extends Properties("parse-core") {

  private val tagFree: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.oneOf(" ", "\n", "\t", ".", ",", "!")))
      .map(_.mkString.replaceAll("[<>&]", ""))

  property("html strip idempotent on tag-free text") = forAll(tagFree) { s =>
    val once = HtmlStrip.strip(s)
    HtmlStrip.strip(once) == once
  }

  property("html strip removes single-line tags") = forAll(tagFree, tagFree) { (a, b) =>
    val out = HtmlStrip.strip(s"$a<b\tclass=x>$b</b>")
    !out.contains("<b\tclass=x>") && !out.contains("</b>")
  }

  private val elemGen: Gen[LayoutElement] = for {
    content <- Gen.alphaNumStr
    et <- Gen.oneOf("text", "header")
    page <- Gen.choose(1, 5)
    x1 <- Gen.choose(0.0, 500.0); y1 <- Gen.choose(0.0, 500.0)
    w <- Gen.choose(1.0, 300.0); h <- Gen.choose(1.0, 300.0)
  } yield LayoutElement(content, et, x1, y1, x1 + w, y1 + h, page, 800.0, 600.0)

  property("jaccard in [0,1], symmetric, self=1") =
    forAll(Gen.listOf(elemGen), Gen.listOf(elemGen)) { (ae, be) =>
      val (a, b) = (Signatures.tokens(ae), Signatures.tokens(be))
      val s = Signatures.jaccard(a, b)
      s >= 0.0 && s <= 1.0 &&
        s == Signatures.jaccard(b, a) &&
        (a.isEmpty || Signatures.jaccard(a, a) == 1.0)
    }

  property("signature id: 12 hex chars, deterministic") =
    forAll(Gen.listOf(elemGen)) { es =>
      val t = Signatures.tokens(es)
      val id = Signatures.signatureId(t)
      id.matches("[0-9a-f]{12}") && id == Signatures.signatureId(t)
    }

  // no clamping: the reference's int(coord/dim*1000) can exceed 1000 when a
  // bbox overruns the page (email body synth does) — assert the exact formula
  property("token quantization matches int(coord/dim*1000) truncation") =
    forAll(elemGen) { e =>
      val t = Signatures.tokens(Seq(e)).head
      t.b1 == (e.x1 / e.pageWidth * 1000).toInt &&
        t.b2 == (e.y1 / e.pageHeight * 1000).toInt &&
        t.b3 == (e.x2 / e.pageWidth * 1000).toInt &&
        t.b4 == (e.y2 / e.pageHeight * 1000).toInt &&
        t.contentHash.length == 8 && t.tokenCount >= 0
    }

  property("chunks = stripped non-empty paragraphs with dense %03d ids") =
    forAll(Gen.listOf(Gen.oneOf(tagFree, Gen.const(""))), Gen.identifier) { (paras, id) =>
      val full = paras.mkString("\n\n")
      val cs = Sectionizer.chunks(full, id)
      val expected = PyCompat.pySplitLit(full, "\n\n").map(PyCompat.pyStrip)
        .filter(_.nonEmpty).toSeq
      cs.map(_.content) == expected &&
        cs.zipWithIndex.forall { case (c, i) =>
          c.chunkId == f"${id}_chunk_$i%03d" &&
            c.tokens == PyCompat.pyWordCount(c.content)
        }
    }

  property("coercion: amount fields parse numerics, others unchanged") =
    forAll(Gen.choose(0, 999999), Gen.choose(0, 99)) { (a, b) =>
      val raw = f"$a.$b%02d"
      val (v, num) = RulesEngine.coerce(raw, "total_amount")
      val (v2, num2) = RulesEngine.coerce(a.toString, "invoice_number")
      num.isDefined && v.toDouble == num.get &&
        v2 == a.toString && num2.isEmpty
    }

  private val pool = DocParser.pooled()

  property("corpus gen pure; parse error-free; order is 0..n-1; kinds total") =
    forAll(Gen.choose(0L, 2000000L)) { i =>
      val d = CorpusGen.gen(i)
      val p = DocParser.parse(d, pool)
      d == CorpusGen.gen(i) &&
        p.error.isEmpty &&
        p.spans.map(_.order) == p.spans.indices &&
        p.spans.forall(s => Set("section", "kv", "chunk", "media")(s.kind))
    }

  property("span hash separates differing texts") =
    forAll(Gen.identifier, Gen.identifier) { (a, b) =>
      (a != b) ==> Prop {
        DocParser.spanHash(Seq(OutSpan("section", a, "", 0))) !=
          DocParser.spanHash(Seq(OutSpan("section", b, "", 0)))
      }
    }

  // ---- anchored rule search (start filters) == plain find() ----

  private val shippedRules: Seq[RulesEngine.CompiledRule] =
    RulesEngine.GlobalCompiled ++
      RulesEngine.compile(SignatureTable.Default.flatMap(_.overrideRules))

  // patterns without a start filter: the every-index fallback must still
  // equal find(), line anchors, word boundaries, lookbehind, empty matches
  // and surrogates included
  private val fallbackRules: Seq[RulesEngine.CompiledRule] = RulesEngine.compile(Seq(
    Rule("anchor", "^\\s*(to\\w*)", 0.5, required = false),
    Rule("lookbehind", "(?<=[0-9])(-[0-9])", 0.5, required = false),
    Rule("boundary", "\\b(su\\w)", 0.5, required = false),
    Rule("empty", "(-*)$", 0.5, required = false),
    Rule("surrogate", "(\\p{Cs})", 0.5, required = false)))

  /** `applyRule` as it was before the start filters: `find()` from 0. */
  private def plainApply(cr: RulesEngine.CompiledRule, t: String): Option[KeyValue] = {
    val m = cr.pattern.matcher(t)
    if (!m.find()) None
    else Option(if (m.groupCount() > 0) m.group(1) else m.group(0)).map { raw =>
      val (v, num) = RulesEngine.coerce(PyCompat.pyStrip(raw), cr.rule.fieldName)
      KeyValue(cr.rule.fieldName, v, num, cr.rule.confidence, "rule")
    }
  }

  /** The filter's candidates, in the order `applyRule` tries them. */
  private def candidates(cr: RulesEngine.CompiledRule, t: String): Seq[Int] =
    Iterator.iterate(cr.nextStart.next(t, 0))(p => cr.nextStart.next(t, p + 1))
      .takeWhile(_ >= 0).toSeq

  /** Every start a plain `find()` loop reports. */
  private def findStarts(cr: RulesEngine.CompiledRule, t: String): Seq[Int] = {
    val m = cr.pattern.matcher(t)
    Iterator.continually(m.find()).takeWhile(identity).map(_ => m.start()).toSeq
  }

  // local-part chars, separators, case-folding and whitespace oddities,
  // long runs, rule trigger phrases and their folded or truncated forms,
  // short digit runs next to phone/date punctuation, a surrogate pair, and
  // repeated '@'s whose first domain part fails
  private val ruleFragment: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("a", "Z", "k", "s", "i", "9", ".", "_", "%", "+", "-",
      "@", "/", "-", " ", "\n"),
    4 -> Gen.oneOf("\u212A", "\u017F", "\u0131", "\u0130", "\u00A0", "\u2028",
      "\uD83D\uDE00"),
    4 -> Gen.oneOf("\u017Fum", "\u0130nvoice", "\u0131nv", "b\u0130ll", "TOTAL", "DuE",
      "\u212A", "in", "to", "su", "fro", "subtotal", "Due:", "amount $", "bill no.",
      "Vendor: ", "company", "gst", "P.O", "po ", "reply", "b\u0130ll # 42",
      "b\u0131ll no. 7", "G\u017FTIN: 22AAAAA0000A1Z5"),
    4 -> (for {
      digits <- Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.numChar))
      sep <- Gen.oneOf("(", ")", "-", ".", " ", "")
      before <- Gen.oneOf(true, false)
    } yield if (before) sep + digits.mkString else digits.mkString + sep),
    2 -> Gen.choose(20, 300).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar)).map(_.mkString),
    3 -> Gen.oneOf("x@-", "a@b", "@@", "u@host.", "bob@example.com",
      "\u212Aelvin@ex.\u017Fite", "1/2/2024", "12-31-99", "7-", "Total: 1,234.56",
      "Invoice # INV-1", "from Acme Co.", "(555) 123-4567", "555.123.4567",
      "GSTIN: 22AAAAA0000A1Z5", "P.O. no: PO-77", "Reply-To: r@x.org"))

  private val ruleText: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    20 -> (for {
      prefix <- Gen.oneOf("", "/", "-", "@", "1/", "1-", "a@", "\u212A@", "(", "\uDE00")
      body <- Gen.listOf(ruleFragment)
    } yield prefix + body.mkString))

  property("anchored rule search = plain find() for every rule") =
    forAll(Gen.listOfN(20, ruleText)) { texts =>
      Prop.all((for (t <- texts; cr <- shippedRules ++ fallbackRules) yield {
        val cands = candidates(cr, t)
        val increasing = cands.zip(cands.drop(1)).forall { case (a, b) => a < b }
        val complete = findStarts(cr, t).forall(cands.toSet)
        (increasing && complete && RulesEngine.applyRule(cr, t) == plainApply(cr, t)) :|
          s"${cr.rule.fieldName} on [$t]"
      }): _*)
    }

  property("every shipped rule has a start filter") =
    shippedRules.size == 9 &&
      shippedRules.forall(_.nextStart ne RulesEngine.EveryIndex) &&
      fallbackRules.forall(_.nextStart eq RulesEngine.EveryIndex)

  property("anchored rule search: known cases") = {
    def rule(name: String)(t: String) = RulesEngine.applyRule(
      RulesEngine.GlobalCompiled.find(_.rule.fieldName == name).get, t).map(_.value)
    val email = rule("email") _
    val date = rule("date") _
    val total = rule("total_amount") _
    val phone = rule("phone_number") _
    email("x@y, then bob@example.com") == Some("bob@example.com") &&
      email("\u212Aelvin@ex.com") == Some("\u212Aelvin@ex.com") &&
      email("no at sign.com").isEmpty &&
      date("-1/2/2024") == Some("1/2/2024") &&
      date("12-31-99") == Some("12-31-99") &&
      date("1/2/3 and 4-5-2024") == Some("4-5-2024") &&
      date("20240101").isEmpty &&
      total("\u017Fum: 5") == Some("5") &&
      total("subtotal 12.50") == Some("12.5") &&
      rule("invoice_number")("\u0130nvoice # A-1") == Some("A-1") &&
      rule("invoice_number")("b\u0131ll no. 7") == Some("7") &&
      phone("(555) 123-4567") == Some("(555) 123-4567") &&
      phone("555 1234").isEmpty &&
      shippedRules.forall(cr => RulesEngine.applyRule(cr, "").isEmpty)
  }

  // ---- digest hex: known answers (bytes >= 0x80 catch sign extension) ----

  property("digest hex known answers") = {
    val fox = "The quick brown fox jumps over the lazy dog"
    PyCompat.md5Hex("") == "d41d8cd98f00b204e9800998ecf8427e" &&
      PyCompat.md5Hex("abc") == "900150983cd24fb0d6963f7d28e17f72" &&
      PyCompat.md5Hex(fox) == "9e107d9d372bb6826bd81d3542a419d6" &&
      PyCompat.sha1Hex("") == "da39a3ee5e6b4b0d3255bfef95601890afd80709" &&
      PyCompat.sha1Hex("abc") == "a9993e364706816aba3e25717850c26c9cd0d89d" &&
      PyCompat.sha1Hex(fox) == "2fd4e1c67a2d28fced849ee1bb76e7391b93eb12" &&
      PyCompat.sha256Hex("") ==
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855" &&
      PyCompat.sha256Hex("abc") ==
        "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad" &&
      PyCompat.sha256Hex(fox) ==
        "d7a8fbb307d7809469ca9abcb0082e4f8d5651e46d3cdb762d02d0bf37c9e592"
  }
}
