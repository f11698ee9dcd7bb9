package graft.parse

import java.util.regex.Pattern
import graft.model.{KeyValue, Rule}

/** Regex field extraction (reference: `src/normalization/rules_engine.py:82-128`
  * + rule definitions `rules/global_rules.yml:5-45`).
  *
  * Per rule: `re.search(pattern, text, IGNORECASE | MULTILINE)`, first match
  * only; `group(1)` if the pattern has groups else `group(0)`; Python strip;
  * then numeric coercion for amount/cost/price fields. Global rules always
  * run first (in file order), then the matched signature's override rules —
  * the broadcast rule table replaces the reference's on-disk YAML (S8) and
  * its stateful signature-override store.
  *
  * Start filters: every rule carries an exact start filter, a hand-written
  * scan that yields, in increasing order, every index at which a match of
  * its pattern can start (it may yield extra indices, never misses one).
  * [[applyRule]] tries the regex anchored at each candidate in turn
  * (`region(p, text.length).lookingAt()`) and takes the first success. That
  * is the match `find()` returns, because `find()` tries the same indices
  * in the same order and the candidates it skips cannot start a match.
  * Rules are recognised by their pattern string:
  *
  *  - keyword rules (`invoice_number`, `total_amount`, `vendor_name` and
  *    the shipped override rules `gstin`, `po_number`, `reply_to`): an
  *    index where the first 3 chars (all of a shorter word) of one trigger
  *    word match: `inv`/`bil`, `tot`/`amo`/`sum`/`due`, `ven`/`com`/`fro`,
  *    `gst`, `po`/`p.o` and `rep`.
  *    Under CASE_INSENSITIVE | UNICODE_CASE an ASCII pattern letter matches
  *    its ASCII upper and lower case and some non-ASCII chars (`ſ`, `İ`,
  *    `ı` and `K` fold into ASCII letters), and no other ASCII char, so a
  *    text char counts as a match for a trigger char when it is one of the
  *    ASCII case pair or any non-ASCII char. Each trigger char matches
  *    exactly one text char, since no supplementary code point folds to
  *    ASCII;
  *  - `phone_number`: three ASCII digits, or `(` then three ASCII digits;
  *  - `date`: an ASCII digit with `/` or `-` at offset 1 or 2;
  *  - `email`: an index inside a run of possible local-part chars that ends
  *    at an `@` (a local part ends right at an `@`, and `@` is not a
  *    local-part char). Every non-ASCII char counts as a possible member,
  *    since e.g. `K` and `ſ` fold into `[a-zA-Z]`.
  *
  * `[0-9]`, `(`, `/`, `-` and `@` have no case variants. The region ends at
  * the text's end, so `$` is unchanged; no shipped pattern uses lookbehind,
  * `\b` or `^`, and the matcher's bounds are transparent and non-anchoring
  * anyway, so those would see the text before the region as under `find()`.
  * Under these flags `Pattern` always compiles to `StartS`: `find()` tries
  * index 0, 1, ... up to `text.length` but skips the low half of a
  * surrogate pair. A lone low surrogate never matches a trigger char, a
  * digit, `(` or a local-part char, so a filter may yield it harmlessly. A
  * pattern without a filter falls back to [[EveryIndex]], which is
  * `find()`'s own order, including a possible empty match at the end.
  */
object RulesEngine {

  private val InvoicePattern =
    "(?:invoice|inv|bill)\\s*(?:number|#|no\\.?)\\s*:?\\s*([A-Z0-9-]+)"
  private val TotalPattern = "(?:total|amount|sum|due)\\s*:?\\s*\\$?([0-9,]+\\.?[0-9]*)"
  private val DatePattern = "([0-9]{1,2}[/-][0-9]{1,2}[/-][0-9]{2,4})"
  private val VendorPattern =
    "(?:vendor|company|from)\\s*:?\\s*([A-Za-z\\s&\\.]+?)(?:\\n|$|\\.|,)"
  private val EmailPattern = "([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,})"
  private val PhonePattern = "(\\(?[0-9]{3}\\)?[-\\.\\s]?[0-9]{3}[-\\.\\s]?[0-9]{4})"

  /** The six global rules, verbatim patterns from
    * `rules/global_rules.yml` (all verified Python/Java-regex compatible —
    * SURVEY §7.3 R2).
    */
  val GlobalRules: Seq[Rule] = Seq(
    Rule("invoice_number", InvoicePattern, 0.9, required = true),
    Rule("total_amount", TotalPattern, 0.8, required = true),
    Rule("date", DatePattern, 0.7, required = false),
    Rule("vendor_name", VendorPattern, 0.6, required = false),
    Rule("email", EmailPattern, 0.9, required = false),
    Rule("phone_number", PhonePattern, 0.8, required = false))

  /** Trigger words of the keyword rules, keyed by pattern: a match starts
    * with one of them (`SignatureTable`'s override patterns included).
    */
  private val KeywordTriggers: Map[String, Seq[String]] = Map(
    InvoicePattern -> Seq("invoice", "inv", "bill"),
    TotalPattern -> Seq("total", "amount", "sum", "due"),
    VendorPattern -> Seq("vendor", "company", "from"),
    "GSTIN\\s*:?\\s*([0-9A-Z]{15})" -> Seq("gstin"),
    "(?:PO|P\\.O\\.)\\s*(?:number|no\\.?)?\\s*:?\\s*([A-Z0-9-]+)" -> Seq("po", "p.o."),
    "Reply-To\\s*:?\\s*([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+)" -> Seq("reply-to"))

  /** Start filter: `next(text, from)` is the next index `>= from` at which a
    * match can start, or -1 when there is none (see [[RulesEngine]]).
    */
  private[parse] trait StartFilter {
    def next(text: String, from: Int): Int
  }

  /** Compiled rule ready for per-partition reuse (pooled parser state).
    * UNICODE_CASE because Python's `re.IGNORECASE` on str patterns folds
    * case per Unicode, not ASCII — without it e.g. the Kelvin sign `K`
    * would match `(?i)k` in the reference but not here. Residual known
    * divergence either way: Java's fold (toUpper/toLower closure) and
    * Python's simple-folding table disagree on the Turkish dotted/dotless
    * i pair (`İ`/`ı`) — unreconcilable at the flag level, absent from the
    * corpus and fuzz suite, and irrelevant to the shipped ASCII trigger
    * words. No-op on the ASCII rule patterns/corpus (fuzz parity 2000/2000
    * unchanged under the flag).
    */
  final class CompiledRule(val rule: Rule) {
    // UNICODE_CHARACTER_CLASS (implies UNICODE_CASE): Python's \s in str
    // patterns matches Unicode whitespace — 'Total: 123.45' matches
    // the total_amount rule in the reference (verified live) and must
    // here too; ASCII-only \s silently dropped such kvs.
    val pattern: Pattern = Pattern.compile(rule.pattern,
      Pattern.CASE_INSENSITIVE | Pattern.MULTILINE |
        Pattern.UNICODE_CHARACTER_CLASS)

    private[parse] val nextStart: StartFilter = rule.pattern match {
      case EmailPattern => emailStarts
      case DatePattern => dateStarts
      case PhonePattern => phoneStarts
      case p => KeywordTriggers.get(p).map(keywordStarts).getOrElse(EveryIndex)
    }
  }

  /** The fallback: every index from 0 to `text.length`, skipping the low
    * half of a surrogate pair, as `find()` does.
    */
  private[parse] val EveryIndex: StartFilter = (t, from) => {
    var i = from
    while (i > 0 && i < t.length &&
        Character.isLowSurrogate(t.charAt(i)) &&
        Character.isHighSurrogate(t.charAt(i - 1))) i += 1
    if (i <= t.length) i else -1
  }

  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  private val phoneStarts: StartFilter = (t, from) => {
    val n = t.length
    var i = from
    var hit = -1
    while (hit < 0 && i + 2 < n) {
      val c = t.charAt(i)
      val d = if (c == '(') i + 1 else i
      if (d + 2 < n && isDigit(t.charAt(d)) && isDigit(t.charAt(d + 1)) &&
          isDigit(t.charAt(d + 2))) hit = i
      i += 1
    }
    hit
  }

  private def isDateSep(c: Char): Boolean = c == '/' || c == '-'

  private val dateStarts: StartFilter = (t, from) => {
    val n = t.length
    var i = from
    var hit = -1
    while (hit < 0 && i + 1 < n) {
      if (isDigit(t.charAt(i)) && (isDateSep(t.charAt(i + 1)) ||
          (i + 2 < n && isDateSep(t.charAt(i + 2))))) hit = i
      i += 1
    }
    hit
  }

  private val emailStarts: StartFilter = (t, from) => {
    var at = t.indexOf('@', from)
    var hit = -1
    while (hit < 0 && at >= 0) {
      var s = at
      while (s > from && mayBeLocalPart(t.charAt(s - 1))) s -= 1
      if (s < at) hit = s else at = t.indexOf('@', at + 1)
    }
    hit
  }

  private def mayBeLocalPart(c: Char): Boolean =
    c >= 0x80 || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      isDigit(c) || c == '.' || c == '_' || c == '%' || c == '+' || c == '-'

  /** Candidates where the first 3 chars of one trigger word match. */
  private def keywordStarts(words: Seq[String]): StartFilter = {
    val triggers = words.map(_.take(3)).distinct.map(_.toCharArray).toArray
    // the triggers an ASCII char can start (both cases); non-ASCII: all
    val byFirst = Array.tabulate(128)(c => triggers.filter(w => mayFold(c.toChar, w(0))))
    (t, from) => {
      val n = t.length
      var i = from
      var hit = -1
      while (hit < 0 && i < n) {
        val c = t.charAt(i)
        val ws = if (c < 0x80) byFirst(c) else triggers
        var k = 0
        while (hit < 0 && k < ws.length) {
          val w = ws(k)
          if (i + w.length <= n) {
            var j = 1
            while (j < w.length && mayFold(t.charAt(i + j), w(j))) j += 1
            if (j == w.length) hit = i
          }
          k += 1
        }
        i += 1
      }
      hit
    }
  }

  /** Can text char `c` match the lower-case ASCII pattern char `p` under
    * CASE_INSENSITIVE | UNICODE_CASE? Yes for `p` itself, its ASCII upper
    * case, and (conservatively) any non-ASCII char.
    */
  private def mayFold(c: Char, p: Char): Boolean =
    c == p || c >= 0x80 || (p >= 'a' && p <= 'z' && c == p - 32)

  def compile(rules: Seq[Rule]): Seq[CompiledRule] = rules.map(new CompiledRule(_))

  val GlobalCompiled: Seq[CompiledRule] = compile(GlobalRules)

  /** Apply one rule — returns None when no match (`rules_engine.py:93-96`). */
  def applyRule(cr: CompiledRule, text: String): Option[KeyValue] = {
    // lookbehind, \b and ^ see the text before the region, as under find()
    val m = cr.pattern.matcher(text).useTransparentBounds(true)
      .useAnchoringBounds(false)
    var p = cr.nextStart.next(text, 0)
    while (p >= 0 && !m.region(p, text.length).lookingAt())
      p = cr.nextStart.next(text, p + 1)
    if (p < 0) None
    else {
      val raw = if (m.groupCount() > 0) m.group(1) else m.group(0)
      // group(1) can be null only if the group didn't participate — not
      // possible for these patterns, but guard like Python would TypeError.
      if (raw == null) None
      else {
        val stripped = PyCompat.pyStrip(raw)
        val (value, valueNum) = coerce(stripped, cr.rule.fieldName)
        Some(KeyValue(cr.rule.fieldName, value, valueNum, cr.rule.confidence, "rule"))
      }
    }
  }

  /** Value type coercion (`rules_engine.py:114-128`): amount/cost/price
    * fields get `[$,]` stripped then Python `int()`/`float()`; on failure the
    * ORIGINAL string is kept. Returns the Python `str(value)` rendering plus
    * the numeric value when coerced.
    */
  def coerce(value: String, fieldName: String): (String, Option[Double]) = {
    val f = fieldName.toLowerCase
    if (f.contains("amount") || f.contains("cost") || f.contains("price")) {
      val numeric = value.replace("$", "").replace(",", "")
      if (numeric.contains(".")) {
        pyFloat(numeric) match {
          case Some(d) => (PyCompat.pyFloatRepr(d), Some(d))
          case None => (value, None)
        }
      } else {
        pyInt(numeric) match {
          case Some(bi) => (bi.toString, Some(bi.toDouble))
          case None => (value, None)
        }
      }
    } else (value, None)
  }

  /** Python `int(s)`: optional sign, digits (ASCII), surrounding whitespace
    * ok; underscores between digits accepted but never produced by our
    * patterns.
    */
  private def pyInt(s: String): Option[BigInt] = {
    val t = PyCompat.pyStrip(s)
    if (t.isEmpty) None
    else {
      val body = if (t.head == '+' || t.head == '-') t.tail else t
      if (body.nonEmpty && body.forall(c => c >= '0' && c <= '9'))
        Some(BigInt(t))
      else None
    }
  }

  /** Python `float(s)` for the decimal forms our patterns can produce
    * (digits with one '.'): both Python and Java parse correctly-rounded.
    * Python accepts "123." and ".5"; rejects "." and "".
    */
  private def pyFloat(s: String): Option[Double] = {
    val t = PyCompat.pyStrip(s)
    val body = if (t.nonEmpty && (t.head == '+' || t.head == '-')) t.tail else t
    val parts = body.split("\\.", -1)
    val ok = body.nonEmpty && parts.length <= 2 &&
      parts.exists(_.nonEmpty) &&
      parts.forall(p => p.forall(c => c >= '0' && c <= '9'))
    if (!ok) None
    else try Some(t.toDouble) catch { case _: NumberFormatException => None }
  }

  /** Full extraction: global rules then override rules of the matched
    * signature (`rules_engine.py:54-80`). Returns (kvs, rules_applied).
    */
  def applyAll(
      globals: Seq[CompiledRule],
      overrides: Seq[CompiledRule],
      overrideSigId: String,
      text: String): (Seq[KeyValue], Seq[String]) = {
    val out = Seq.newBuilder[KeyValue]
    val applied = Seq.newBuilder[String]
    if (globals.nonEmpty) {
      globals.foreach(cr => applyRule(cr, text).foreach(out += _))
      applied += "global"
    }
    if (overrides.nonEmpty) {
      overrides.foreach(cr => applyRule(cr, text).foreach(out += _))
      applied += s"signature_$overrideSigId"
    }
    (out.result(), applied.result())
  }
}
