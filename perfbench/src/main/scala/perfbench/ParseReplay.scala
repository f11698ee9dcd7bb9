package perfbench

import scala.collection.mutable
import graft.model.{InputDoc, KeyValue, LayoutElement, SectionOut}
import graft.parse._

/** The `graft.parse` layer's per-layer metrics: a single-thread replay of
  * the stages `DocParser.parse` runs, on the workload's own docs, through
  * each stage's public function, timed from here. `parse.total_s` is the
  * same thread's time in whole `DocParser.parse` calls over the same docs;
  * what the stages do not account for (dispatch, span flattening,
  * allocation) is `parse.self_s`.
  *
  * The replay mirrors `DocParser.parseUnsafe`'s stage order; it checks
  * nothing about the output (the workloads' reference checks do that).
  */
final class ParseReplay {
  private val pool = DocParser.pooled()
  private val PageW = 612.0
  private val PageH = 792.0

  private val stageNs = mutable.LinkedHashMap(
    Seq("html_strip", "block_classify", "email", "sectionize", "signature",
      "rules", "chunk", "content_hash").map(_ -> 0L): _*)
  private val ruleNs = mutable.LinkedHashMap(
    RulesEngine.GlobalRules.map(_.fieldName -> 0L): _*)
  private val formats = mutable.LinkedHashMap("html" -> 0L, "text" -> 0L,
    "email" -> 0L, "pdf" -> 0L)
  private var totalNs = 0L
  private var ruleEvals = 0L
  private var ruleMatches = 0L
  private var cacheHits = 0L
  private var replayed = 0L
  // input shape
  private var docs = 0L
  private var bytes = 0L
  private var heavyPdfs = 0L
  private var withMedia = 0L

  private def timed[A](stage: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    stageNs(stage) += System.nanoTime() - t0
    r
  }

  /** Times a whole `DocParser.parse` call and the replay of its stages on
    * each doc in turn, so both see the machine in the same state; which of
    * the two goes first alternates from doc to doc.
    */
  def run(ds: IndexedSeq[InputDoc]): this.type = {
    ds.zipWithIndex.foreach { case (d, i) =>
      shape(d)
      if (i % 2 == 0) replay(d)
      val t0 = System.nanoTime()
      DocParser.parse(d, pool)
      totalNs += System.nanoTime() - t0
      if (i % 2 == 1) replay(d)
    }
    this
  }

  private def shape(d: InputDoc): Unit = {
    docs += 1
    d.spans.foreach(s => bytes += utf8Len(s.text) + utf8Len(s.media_ref))
    if (d.spans.count(_.kind == "pdf_page") >= ParseReplay.HeavyPdfPages) heavyPdfs += 1
    if (d.spans.exists(_.kind == "media")) withMedia += 1
  }

  private def utf8Len(s: String): Long =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong

  private def replay(doc: InputDoc): Unit = {
    val sorted = doc.spans.sortBy(_.offset)
    val content = sorted.filter(_.kind != "media")
    val fileType = content.map(_.kind).distinct match {
      case Seq("html") if content.length == 1 => "html"
      case Seq("text") if content.length == 1 => "text"
      case Seq("email") if content.length == 1 => "email"
      case Seq("pdf_page") => "pdf"
      case _ => return // the error channel: DocParser stops here too
    }
    formats(fileType) += 1
    replayed += 1
    var fullText = ""
    var elements: Seq[LayoutElement] = Seq.empty
    fileType match {
      case "text" | "html" =>
        val span = content.head
        val text =
          if (fileType == "html") timed("html_strip")(HtmlStrip.strip(span.text))
          else span.text
        if (fileType == "html") timed("block_classify")(BlockClassifier.classify(span.text))
        fullText = text
        elements = Seq(LayoutElement(text, "text", 0, 0, PageW, PageH, 1, PageW, PageH))
        timed("sectionize")(Sectionizer.textSections(elements))
      case "email" =>
        val parsed = timed("email") {
          val p = EmailParser.parse(content.head.text)
          EmailParser.sections(p.layout)
          p
        }
        fullText = parsed.fullText
        elements = parsed.layout
      case _ =>
        val (text, els) = timed("sectionize") {
          val sb = new StringBuilder
          val els = mutable.ArrayBuffer.empty[LayoutElement]
          val secs = mutable.ArrayBuffer.empty[SectionOut]
          content.zipWithIndex.foreach { case (page, idx) =>
            sb.append(page.text).append('\n')
            val stripped = PyCompat.pyStrip(page.text)
            if (stripped.nonEmpty) {
              els += LayoutElement(stripped, "text", 0, 0, PageW, PageH, idx + 1, PageW, PageH)
              secs += SectionOut(s"Page ${idx + 1}", stripped, 1, Some(idx + 1))
            }
          }
          (sb.toString, els.toSeq)
        }
        fullText = text
        elements = els
    }
    val m = timed("signature") {
      Signatures.matchSignature(Signatures.tokens(elements), pool.table)
    }
    if (m.similarity >= Signatures.SameVersionThreshold &&
      m.matched.exists(_.cachedFields.nonEmpty)) cacheHits += 1
    else {
      pool.globalRules.foreach { cr =>
        val t0 = System.nanoTime()
        val kv = RulesEngine.applyRule(cr, fullText)
        val dt = System.nanoTime() - t0
        ruleNs(cr.rule.fieldName) += dt
        stageNs("rules") += dt
        countRule(kv)
      }
      m.matched.foreach { c =>
        pool.overrideRules(c.signatureId).foreach { cr =>
          countRule(timed("rules")(RulesEngine.applyRule(cr, fullText)))
        }
      }
    }
    timed("chunk")(Sectionizer.chunks(fullText, doc.doc_id))
    timed("content_hash")(PyCompat.sha256Hex(
      sorted.map(s => s.kind + "\u0000" + s.text + "\u0000" + s.media_ref)
        .mkString("\u0001")))
  }

  private def countRule(kv: Option[KeyValue]): Unit = {
    ruleEvals += 1
    if (kv.isDefined) ruleMatches += 1
  }

  private def ratio(a: Long, b: Long) = if (b > 0) a.toDouble / b else 0.0

  /** `parse.self_s` over `parse.total_s`; negative when the replayed stages
    * take longer than the whole parses did.
    */
  def selfShare: Double = ratio(totalNs - stageNs.values.sum, totalNs)

  /** Emits every `parse.*` and `input.*` metric; an unused replay emits
    * zeros, for workloads that never call the parse core.
    */
  def emit(report: Report, docUs: Seq[Double]): Unit = {
    formats.foreach { case (f, c) => report.put(s"parse.docs_$f", c.toDouble, "count") }
    val total = totalNs / 1e9
    report.put("parse.total_s", total, "s")
    stageNs.foreach { case (s, ns) => report.put(s"parse.${s}_s", ns / 1e9, "s") }
    ruleNs.foreach { case (r, ns) => report.put(s"parse.rule_${r}_s", ns / 1e9, "s") }
    report.put("parse.self_s", (totalNs - stageNs.values.sum) / 1e9, "s")
    report.put("parse.self_share", selfShare, "ratio")
    report.put("parse.rule_evals", ruleEvals.toDouble, "count")
    report.put("parse.rule_matches", ruleMatches.toDouble, "count")
    report.put("parse.rule_match_ratio", ratio(ruleMatches, ruleEvals), "ratio")
    report.put("parse.sig_cache_hit_ratio", ratio(cacheHits, replayed), "ratio")
    def pct(q: Double) = if (docUs.isEmpty) 0.0 else Stats.quantile(docUs, q)
    report.put("parse.doc_us_p50", pct(0.5), "us")
    report.put("parse.doc_us_p99", pct(0.99), "us")
  }

  def emitInput(report: Report): Unit = {
    report.put("input.docs", docs.toDouble, "count")
    report.put("input.bytes", bytes.toDouble, "bytes")
    report.put("input.heavy_pdf_docs", heavyPdfs.toDouble, "count")
    report.put("input.media_share", ratio(withMedia, docs), "ratio")
  }
}

object ParseReplay {
  /** A PDF with at least this many pages belongs to the corpus's planted
    * heavy tail (80–250 pages; ordinary PDFs have 1–6).
    */
  val HeavyPdfPages = 80

  /** Replays the corpus and checks that the stages account for the whole
    * parses: the stages may exceed `parse.total_s` only by timing noise.
    */
  def traceCorpus(corpus: Corpus, report: Report, docUs: Seq[Double]): Unit = {
    val docs = (0 until corpus.n).map(corpus.doc)
    val r = new ParseReplay().run(docs)
    r.emit(report, docUs)
    r.emitInput(report)
    if (r.selfShare < -0.10)
      report.problem(f"trace gate: parse stages exceed parse.total_s by ${-r.selfShare * 100}%.1f%%")
    report.note(f"parse.self_s is ${r.selfShare * 100}%.1f%% of parse.total_s")
  }
}
