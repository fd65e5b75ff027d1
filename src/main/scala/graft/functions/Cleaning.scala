package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar cleaning/coercion library (SURVEY §2.3 F1–F19).
  *
  * Semantics match the reference's cleaning helpers
  * (`/root/reference/src/pos_core/etl/staging/cleaning_utils.py:41-344`),
  * re-expressed as Catalyst column expressions so the hot path stays
  * inside whole-stage codegen. `parseMoney` (F3) and `stripAccents` (F6)
  * call the `parse_money_native` / `strip_accents_native` kernels
  * ([[GraftExtensions.kernels]]), which run [[parseMoneyFn]] and
  * [[stripAccentsFn]] as static calls in the generated code.
  */
object Cleaning {

  // ---------------------------------------------------------------- F1
  /** Remove \r, tabs→space, NBSP/NNBSP→space, zero-width chars; collapse
    * whitespace runs to one space; trim.
    * Ref: cleaning_utils.py:52-81 (strip_invisibles). */
  def stripInvisibles(c: Column): Column = {
    val noCr   = regexp_replace(c, "\\r", "")
    val spaced = regexp_replace(noCr, "[\\t\\u00A0\\u202F]", " ")
    val noZw   = regexp_replace(spaced, "[\\u200B\\u200C\\u200D\\uFEFF]", "")
    trim(regexp_replace(noZw, "\\s+", " "))
  }

  // ---------------------------------------------------------------- F2
  /** Prefix `'` to strings starting with =, +, @, - (formula-injection
    * guard). Ref: cleaning_utils.py:84-108 (neutralize). */
  def neutralize(c: Column): Column =
    when(substring(c, 1, 1).isin("=", "+", "@", "-"), concat(lit("'"), c))
      .otherwise(c)

  // ---------------------------------------------------------------- F3
  /** Locale-aware money parser. Same decision tree as the reference's
    * `to_float` (cleaning_utils.py:111-197):
    *  - `(x)` → negative; strip currency symbols (keep digits , . - ( ) ws);
    *    drop inner whitespace;
    *  - `1.234,56` EU-grouped  → 1234.56
    *  - `1,234.56` US-grouped  → 1234.56
    *  - comma only: `1,234,567` grouped → thousands; else comma = decimal
    *  - dot only: single dot = decimal; `1.234.567` grouped → thousands;
    *    otherwise keep dots (prefer decimal over 10^3 inflation)
    *  - plain digits; final fallback comma→dot.
    * Deterministic, null-safe; a kernel because the regex cascade with
    * early exits doesn't decompose into one expression. Its patterns
    * are compiled once, not per cell.
    */
  val parseMoneyFn: String => Option[Double] = { raw =>
    if (raw == null) None
    else {
      var s = raw.trim
      if (s.isEmpty) None
      else {
        var neg = false
        if (s.startsWith("(") && s.endsWith(")")) {
          neg = true; s = s.substring(1, s.length - 1).trim
        }
        s = MoneyJunk.replaceAllIn(s, "")
        s = Spaces.replaceAllIn(s, "")
        if (s.isEmpty) None
        else {
          def fin(n: String): Option[Double] =
            try { val v = n.toDouble; Some(if (neg) -v else v) }
            catch { case _: NumberFormatException => None }
          val hasDot = s.contains('.'); val hasCom = s.contains(',')
          if (EuGrouped.matches(s)) fin(s.replace(".", "").replace(',', '.'))
          else if (UsGrouped.matches(s)) fin(s.replace(",", ""))
          else if (hasCom && !hasDot) {
            if (ComGroups.matches(s)) fin(s.replace(",", ""))
            else fin(s.replace(',', '.'))
          } else if (hasDot && !hasCom) {
            if (s.count(_ == '.') == 1) fin(s)
            else if (DotGroups.matches(s)) fin(s.replace(".", ""))
            else fin(s)
          } else if (PlainInt.matches(s)) fin(s)
          else fin(s.replace(',', '.'))
        }
      }
    }
  }

  private val MoneyJunk = "[^\\d,.\\-()\\s]".r
  private val Spaces = "\\s+".r
  private val EuGrouped = "\\d{1,3}(?:\\.\\d{3})+,\\d{1,2}".r
  private val UsGrouped = "\\d{1,3}(?:,\\d{3})+\\.\\d{1,2}".r
  private val ComGroups = "\\d{1,3}(?:,\\d{3})+".r
  private val DotGroups = "\\d{1,3}(?:\\.\\d{3})+".r
  private val PlainInt = "-?\\d+".r

  def parseMoney(c: Column): Column = call_function("parse_money_native", c)

  // ---------------------------------------------------------------- F4
  /** to_float then round half-to-even — Python round() is banker's,
    * so bround (HALF_EVEN), not round (HALF_UP).
    * Ref: cleaning_utils.py:200-222. */
  def parseIntMoney(c: Column): Column =
    bround(parseMoney(c), 0).cast("long")

  // ---------------------------------------------------------------- F5
  /** Multi-format date parse, order matters (day-first before US).
    * Ref: cleaning_utils.py:225-258. */
  def parseDateMulti(c: Column): Column = {
    val s = stripInvisibles(c)
    coalesce(
      try_to_date(s, "yyyy-MM-dd"),
      try_to_date(s, "dd/MM/yyyy"),
      try_to_date(s, "MM/dd/yyyy"),
      try_to_date(s, "dd-MM-yyyy"),
      try_to_date(s)
    )
  }

  // ---------------------------------------------------------------- F6
  /** NFD-decompose, strip combining marks. Ref: cleaning_utils.py:261-313. */
  val stripAccentsFn: String => String = { s =>
    if (s == null) null
    else Marks.replaceAllIn(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD), "")
  }
  private val Marks = "\\p{M}+".r
  def stripAccents(c: Column): Column =
    call_function("strip_accents_native", c)

  /** normalize_spanish_name: strip accents, collapse ws, lowercase. */
  def normalizeName(c: Column): Column =
    lower(trim(regexp_replace(stripAccents(c), "\\s+", " ")))

  // ---------------------------------------------------------------- F14
  /** "si/sí/yes/true/1"→true, "no/false/0"→false, else null.
    * Ref: sales_cleaner.py:406-421. */
  def boolCoerce(c: Column): Column = {
    val v = lower(trim(c))
    when(v.isin("si", "sí", "yes", "true", "1"), lit(true))
      .when(v.isin("no", "false", "0"), lit(false))
      .otherwise(lit(null).cast("boolean"))
  }

  // ---------------------------------------------------------------- F10-style
  /** Ordered substring-rule bucketing (first match wins), the shape of the
    * reference's payment-method bucketer (payments_daily.py:157-194). */
  def bucketBySubstring(c: Column, rules: Seq[(String, String)],
                        default: String): Column = {
    val norm = c
    rules.foldRight(lit(default): Column) { case ((token, bucket), acc) =>
      when(norm.contains(token), lit(bucket)).otherwise(acc)
    }
  }

  // ------------------------------------------------------------ helpers
  /** Order-independent exact money sum: sum as decimal(18,2), emit double.
    * Makes Spark and any oracle engine agree bit-for-bit. */
  def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact decimal sum with configurable scale, emitted as double. */
  def decSum(c: Column, scale: Int): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double")
}
