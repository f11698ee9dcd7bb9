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
  * Anchored search: [[applyRule]] calls `find(from)` from the lowest index
  * at which the rule can match at all, and skips the regex when no match is
  * possible. Two rules have such a bound, recognised by their pattern:
  *
  *  - `email` needs an `@`. No match can start before the run of possible
  *    local-part characters that ends at the FIRST `@`: a match's local part
  *    ends right at some `@` at or after it, and `@` is not a local-part
  *    character, so no local part spans an earlier `@`. The backward walk
  *    counts every non-ASCII char as a possible member, since under
  *    CASE_INSENSITIVE | UNICODE_CHARACTER_CLASS e.g. `K` (U+212A) and `ſ`
  *    (U+017F) fold into `[a-zA-Z]`; ASCII has no other case variants.
  *  - `date` needs a `/` or `-` at offset 1 or 2 of the match, so no match
  *    starts before the first separator minus 2 (`[0-9]` and `[/-]` have no
  *    case variants).
  *
  * Since no match starts before `from`, `find(from)` returns the leftmost
  * match `find()` would, including a match at a later `@` when the first
  * `@`'s domain part fails. Every other rule searches from 0. The bound
  * matters most for `email`: a search from 0 retries the local-part run at
  * each of its chars, which costs the square of the run length per run.
  */
object RulesEngine {

  private val DatePattern = "([0-9]{1,2}[/-][0-9]{1,2}[/-][0-9]{2,4})"
  private val EmailPattern = "([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,})"

  /** The six global rules, verbatim patterns from
    * `rules/global_rules.yml` (all verified Python/Java-regex compatible —
    * SURVEY §7.3 R2).
    */
  val GlobalRules: Seq[Rule] = Seq(
    Rule("invoice_number",
      "(?:invoice|inv|bill)\\s*(?:number|#|no\\.?)\\s*:?\\s*([A-Z0-9-]+)",
      0.9, required = true),
    Rule("total_amount",
      "(?:total|amount|sum|due)\\s*:?\\s*\\$?([0-9,]+\\.?[0-9]*)",
      0.8, required = true),
    Rule("date", DatePattern, 0.7, required = false),
    Rule("vendor_name",
      "(?:vendor|company|from)\\s*:?\\s*([A-Za-z\\s&\\.]+?)(?:\\n|$|\\.|,)",
      0.6, required = false),
    Rule("email", EmailPattern, 0.9, required = false),
    Rule("phone_number",
      "(\\(?[0-9]{3}\\)?[-\\.\\s]?[0-9]{3}[-\\.\\s]?[0-9]{4})",
      0.8, required = false))

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

    /** Lowest index a match can start at, or -1 if none can match (see the
      * anchored-search note on [[RulesEngine]]).
      */
    private[parse] val searchFrom: String => Int = rule.pattern match {
      case EmailPattern => emailFrom
      case DatePattern => dateFrom
      case _ => _ => 0
    }
  }

  private def emailFrom(t: String): Int = {
    var i = t.indexOf('@') // -1 (no match possible) skips the walk
    while (i > 0 && mayBeLocalPart(t.charAt(i - 1))) i -= 1
    i
  }

  private def mayBeLocalPart(c: Char): Boolean =
    c >= 0x80 || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '%' ||
      c == '+' || c == '-'

  private def dateFrom(t: String): Int = {
    val slash = t.indexOf('/')
    val dash = t.indexOf('-')
    val sep = if (slash < 0) dash else if (dash < 0) slash else math.min(slash, dash)
    if (sep < 0) -1 else math.max(0, sep - 2)
  }

  def compile(rules: Seq[Rule]): Seq[CompiledRule] = rules.map(new CompiledRule(_))

  val GlobalCompiled: Seq[CompiledRule] = compile(GlobalRules)

  /** Apply one rule — returns None when no match (`rules_engine.py:93-96`). */
  def applyRule(cr: CompiledRule, text: String): Option[KeyValue] = {
    val from = cr.searchFrom(text)
    val m = cr.pattern.matcher(text)
    if (from < 0 || !m.find(from)) None
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
