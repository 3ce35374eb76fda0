package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, JsNumberParse}
import org.apache.spark.unsafe.types.UTF8String

/** JS-compatible scalar parsing/validation helpers, expressed as Catalyst
  * column expressions (no UDFs — everything here stays inside whole-stage
  * codegen). Semantics documented against the reference:
  *
  *  - `jsParseFloat`  = JS `parseFloat`  (longest numeric *prefix*, NaN→null)
  *    used by `freetrade.js:139,145,168-169`, `fidelity.js:13-19`.
  *  - `jsNumber`      = JS `Number()`    (whole-string parse, ''→0, NaN→null)
  *    used by `ii.js:66-67,77,84`.
  *  - `parseNumber`   = comma-stripping `parseFloat` (`bullionvault.js:11-13`).
  *  - `failUnless`    = the reference's fail-fast `throw` policy (§2.10 of
  *    SURVEY.md): evaluates to `value` when `ok`, otherwise aborts the job via
  *    `raise_error` — mirroring the reference aborting the whole run on the
  *    first bad row.
  *
  * The four number helpers are one codegen'd kernel,
  * [[org.apache.spark.sql.graft.JsNumberParse]], whose contract is
  * [[scanNumber]]'s. It never throws, so the helpers are ANSI-mode-safe.
  */
object Parse {

  /** JS `parseFloat(s)`: longest numeric prefix; null (≙ NaN) if none. */
  def jsParseFloat(c: Column): Column = number(c, prefix = true, "")

  /** JS `Number(s)`: whole-string parse; '' / spaces → 0; null ≙ NaN. */
  def jsNumber(c: Column): Column = number(c, prefix = false, "")

  /** BullionVault `parseNumber`: strip thousands commas, then parseFloat
    * (`bullionvault.js:11-13`). */
  def parseNumber(c: Column): Column = number(c, prefix = true, ",")

  /** ii-style `Number` after stripping `£` and `,` (`ii.js:66-67,83`). */
  def poundsNumber(c: Column): Column = number(c, prefix = false, "£,")

  private def number(c: Column, prefix: Boolean, strip: String): Column =
    ColumnBridge.column(JsNumberParse(ColumnBridge.expression(c), prefix, strip))

  /** The number `in` spells once every character of `strip` is removed, or
    * NaN (the kernel's NULL) when it spells none. The grammar is
    * `[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?` over ASCII digits, the
    * exponent taken only when it has digits; the matched text is read by
    * `Double.parseDouble`, so `1e999` is Infinity.
    *
    *  - Prefix mode (`parseFloat`): skip leading `[ \t\n\x0B\f\r]`, then
    *    read the longest grammar match. No match is NaN. So is a skipped run
    *    that holds anything but `' '`: `"\t5"` is NaN, where JS
    *    `parseFloat("\t5")` is 5.
    *  - Whole mode (`Number`): strip `' '` at both ends (only spaces, so
    *    `"\t"` is NaN, where JS `Number("\t")` is 0); nothing left is 0.
    *    Otherwise the rest must be one grammar match, optionally followed by
    *    exactly one `\n`, `\r` or `\r\n`: `"5\n"` is 5.
    */
  def scanNumber(in: UTF8String, prefix: Boolean, strip: String): Double = {
    val s = without(in.toString, strip)
    if (prefix) {
      var i = 0
      var spaces = true
      while (i < s.length && isRegexSpace(s.charAt(i))) {
        spaces &&= s.charAt(i) == ' '
        i += 1
      }
      val end = grammarEnd(s, i)
      if (end < 0 || !spaces) Double.NaN else java.lang.Double.parseDouble(s.substring(i, end))
    } else {
      var b = 0
      var e = s.length
      while (b < e && s.charAt(b) == ' ') b += 1
      while (e > b && s.charAt(e - 1) == ' ') e -= 1
      if (b == e) 0.0
      else {
        val end = grammarEnd(s, b)
        if (end < 0 || !lineEnd(s, end, e)) Double.NaN
        else java.lang.Double.parseDouble(s.substring(b, end))
      }
    }
  }

  private def without(s: String, strip: String): String = {
    var i = 0
    while (i < s.length && strip.indexOf(s.charAt(i)) < 0) i += 1
    if (i == s.length) s
    else {
      val b = new java.lang.StringBuilder(s.length).append(s, 0, i)
      while (i < s.length) {
        if (strip.indexOf(s.charAt(i)) < 0) b.append(s.charAt(i))
        i += 1
      }
      b.toString
    }
  }

  private def isRegexSpace(ch: Char): Boolean =
    ch == ' ' || ch == '\t' || ch == '\n' || ch == '\u000b' || ch == '\f' || ch == '\r'

  /** End of the longest grammar match that starts at `from`, or -1. */
  private def grammarEnd(s: String, from: Int): Int = {
    var i = from
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    val int = digitsEnd(s, i)
    if (int > i) {
      i = int
      if (i < s.length && s.charAt(i) == '.') i = digitsEnd(s, i + 1)
    } else if (i < s.length && s.charAt(i) == '.' && digitsEnd(s, i + 1) > i + 1) {
      i = digitsEnd(s, i + 1)
    } else return -1
    if (i < s.length && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
      var j = i + 1
      if (j < s.length && (s.charAt(j) == '+' || s.charAt(j) == '-')) j += 1
      val exp = digitsEnd(s, j)
      if (exp > j) i = exp
    }
    i
  }

  private def digitsEnd(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
    i
  }

  /** Whether `s(end until e)` is empty or one final `\n`, `\r` or `\r\n`. */
  private def lineEnd(s: String, end: Int, e: Int): Boolean = e - end match {
    case 0 => true
    case 1 => s.charAt(end) == '\n' || s.charAt(end) == '\r'
    case 2 => s.charAt(end) == '\r' && s.charAt(end + 1) == '\n'
    case _ => false
  }

  /** JS falsy-string coalesce: first non-empty value, else null
    * (`row['ISIN'] || row['Ticker']` at `freetrade.js:136`; `ii.js:75`). */
  def firstNonEmpty(cs: Column*): Column =
    coalesce(cs.map(c => when(c.isNotNull && c =!= "", c)): _*)

  /** Fail-fast validation: `value` when `ok`, else abort the job with `msg`.
    * Reproduces the reference's throw-on-first-bad-row policy (SURVEY.md §2.10). */
  def failUnless(value: Column, ok: Column, msg: Column): Column =
    when(ok, value).otherwise(raise_error(msg))

  def failUnless(value: Column, ok: Column, msg: String): Column =
    failUnless(value, ok, lit(msg))

  // ---------------------------------------------------------------- dates ---

  /** ISO-8601 timestamp → `dd/MM/yyyy` (Freetrade, `freetrade.js:178-188`).
    * Session timezone is pinned UTC, mirroring the reference's use of local
    * date components on a UTC-configured host. Null when unparsable. */
  def isoToDmy(c: Column): Column =
    date_format(try_to_timestamp(c), "dd/MM/yyyy")

  /** `D/M/YYYY` passthrough with zero-padding (ii, `ii.js:98-109`). The
    * reference only splits/pads — it never validates the numbers — so we do
    * the same (`31/2/2024` passes through as `31/02/2024`). Null when the
    * string does not have exactly three `/`-separated parts. */
  def dmyZeroPad(c: Column): Column = {
    val parts = split(c, "/")
    when(size(parts) === 3,
      concat_ws("/", lpad(parts.getItem(0), 2, "0"), lpad(parts.getItem(1), 2, "0"), parts.getItem(2)))
  }

  /** `16 Jun 2023` → `dd/MM/yyyy` (Fidelity, `fidelity.js:95-106`). */
  def dMmmYyyyToDmy(c: Column): Column =
    date_format(coalesce(
      try_to_timestamp(c, lit("d MMM yyyy")),
      try_to_timestamp(c, lit("d MMMM yyyy"))), "dd/MM/yyyy")

  /** BullionVault deal-time freeform → `dd/MM/yyyy` (`bullionvault.js:100-112`).
    * JS strips ` at ` and leans on `new Date(...)` laxity with a segment-reorder
    * fallback for `21 August 2019 11:23:26 BST`; we replace that with an ordered
    * multi-pattern coalesce over the cleaned string (tz abbreviation dropped —
    * the reference also ignores it: JS Date parses `BST` as invalid and the
    * fallback path drops it, yielding host-local components). */
  def dealTimeToDmy(c: Column): Column = {
    val cleaned = regexp_replace(regexp_replace(c, "(?i)\\s+at\\s+", " "), "\\s+(?!(?:AM|PM)\\b)[A-Z]{2,5}\\s*$", "")
    val pmFixed = trim(cleaned)
    date_format(coalesce(
      try_to_timestamp(pmFixed, lit("MMM d, yyyy h:mm:ss a")),
      try_to_timestamp(pmFixed, lit("MMMM d, yyyy h:mm:ss a")),
      try_to_timestamp(pmFixed, lit("d MMM yyyy H:mm:ss")),
      try_to_timestamp(pmFixed, lit("d MMMM yyyy H:mm:ss")),
      try_to_timestamp(pmFixed, lit("MMM d, yyyy")),
      try_to_timestamp(pmFixed, lit("MMMM d, yyyy")),
      try_to_timestamp(pmFixed, lit("d MMM yyyy")),
      try_to_timestamp(pmFixed, lit("d MMMM yyyy"))), "dd/MM/yyyy")
  }
}
