package graft

import graft.functions.Cleaning
import org.scalatest.funsuite.AnyFunSuite

/** Truth-table tests for the parity kernel (SURVEY §7.4 risk #1):
  * pure-function level, no SparkSession needed. */
class CleaningSpec extends AnyFunSuite {

  private def pm(s: String): Option[Double] = Cleaning.parseMoneyFn(s)

  test("parseMoney: reference docstring examples (cleaning_utils.py:128-143)") {
    assert(pm("1,234.56").contains(1234.56))
    assert(pm("1.234,56").contains(1234.56))
    assert(pm("(1,234.56)").contains(-1234.56))
    assert(pm("$ 1 234,56").contains(1234.56))
  }

  test("parseMoney: separator disambiguation (cleaning_utils.py:159-197)") {
    assert(pm("1.234").contains(1.234))      // single dot = decimal
    assert(pm("1,234").contains(1234.0))     // comma grouping
    assert(pm("1.234.567").contains(1234567.0)) // multi-dot grouping
    assert(pm("1,234,567").contains(1234567.0))
    assert(pm("12,34").contains(12.34))      // comma decimal fallback
  }

  test("parseMoney: unclear multi-dot falls through to None") {
    assert(pm("1.23.45").isEmpty)
  }

  test("parseMoney: negatives, currency, blanks, junk") {
    assert(pm("-42").contains(-42.0))
    assert(pm("(12,3)").contains(-12.3))
    assert(pm("$1234.5").contains(1234.5))
    assert(pm("").isEmpty)
    assert(pm("   ").isEmpty)
    assert(pm("abc").isEmpty)
    assert(pm(null).isEmpty)
    assert(pm("MX$ 99").contains(99.0))
  }

  test("parseMoney: round-trips plain decimal renderings") {
    val rnd = new scala.util.Random(42)
    (1 to 2000).foreach { _ =>
      val v = BigDecimal(rnd.nextInt(2000000000))./(100).setScale(2)
      assert(pm(v.toString).contains(v.toDouble), s"failed on $v")
      assert(pm(s"($v)").contains(-v.toDouble), s"failed on ($v)")
      assert(pm(v.toString.replace('.', ',')).contains(v.toDouble))
    }
  }

  test("stripAccents removes combining marks") {
    assert(Cleaning.stripAccentsFn("Café Überraschung añejo") ==
      "Cafe Uberraschung anejo")
    assert(Cleaning.stripAccentsFn(null) == null)
  }

  test("string kernels with precompiled patterns answer as the " +
    "per-call originals") {
    val grouped = Seq("1.234,56", "1,234.56", "12.345.678,9", "1,234,567.01",
      "1.234.567", "1,234,567", "1.234", "1,234", "12,34", "1.23.45",
      "1,2,3", "-12", "-12,5", "- 12", "12-", "0", "00012,30", ".5", ",5",
      "5.", "5,")
    val wrapped = grouped.flatMap(v => Seq(v, s"($v)", s" ( $v ) ",
      s"$$$v", s"MX$$ $v", s"$v MXN", "\u00A0" + v + "\u202F",
      "\t" + v + "\r\n", v.replace(",", ", "), s"abc$v", s"($v"))
    def bits(d: Option[Double]) = d.map(java.lang.Double.doubleToLongBits)
    val corpus = wrapped ++ Seq("", " ", "\u00A0", "()", "( )", "abc", "$",
      "--", "(-)", "1e3", "NaN", "Infinity", "٣٤", "１２３", null)
    for (v <- corpus) {
      assert(bits(Cleaning.parseMoneyFn(v)) ==
        bits(FrozenKernels.parseMoney(v)), s"parseMoney(code points " +
        s"${Option(v).map(_.codePoints.toArray.mkString(","))})")
      assert(Cleaning.stripAccentsFn(v) == FrozenKernels.stripAccents(v))
      val u = Option(v).map(org.apache.spark.unsafe.types.UTF8String.fromString)
        .orNull
      assert(Option(graft.functions.StripAccentsUtil.strip(u)).map(_.toString)
        .orNull == FrozenKernels.stripAccents(v))
    }
    for (v <- Seq("Café", "ÁÉÍÓÚ ñ ü", "a\u0301\u0327b", "Ω≈ç√", "Żółć"))
      assert(Cleaning.stripAccentsFn(v) == FrozenKernels.stripAccents(v))
  }
}

/** The money parser and accent stripper as they were when they
  * compiled their patterns on every call, frozen as the reference
  * answer for [[Cleaning.parseMoneyFn]] and [[Cleaning.stripAccentsFn]]. */
private object FrozenKernels {
  def parseMoney(raw: String): Option[Double] =
    if (raw == null) None
    else {
      var s = raw.trim
      if (s.isEmpty) None
      else {
        var neg = false
        if (s.startsWith("(") && s.endsWith(")")) {
          neg = true; s = s.substring(1, s.length - 1).trim
        }
        s = s.replaceAll("[^\\d,.\\-()\\s]", "")
        s = s.replaceAll("\\s+", "")
        if (s.isEmpty) None
        else {
          def fin(n: String): Option[Double] =
            try { val v = n.toDouble; Some(if (neg) -v else v) }
            catch { case _: NumberFormatException => None }
          val euGrouped = "\\d{1,3}(?:\\.\\d{3})+,\\d{1,2}".r
          val usGrouped = "\\d{1,3}(?:,\\d{3})+\\.\\d{1,2}".r
          val comGroups = "\\d{1,3}(?:,\\d{3})+".r
          val dotGroups = "\\d{1,3}(?:\\.\\d{3})+".r
          val plainInt  = "-?\\d+".r
          val hasDot = s.contains('.'); val hasCom = s.contains(',')
          if (euGrouped.matches(s)) fin(s.replace(".", "").replace(',', '.'))
          else if (usGrouped.matches(s)) fin(s.replace(",", ""))
          else if (hasCom && !hasDot) {
            if (comGroups.matches(s)) fin(s.replace(",", ""))
            else fin(s.replace(',', '.'))
          } else if (hasDot && !hasCom) {
            if (s.count(_ == '.') == 1) fin(s)
            else if (dotGroups.matches(s)) fin(s.replace(".", ""))
            else fin(s)
          } else if (plainInt.matches(s)) fin(s)
          else fin(s.replace(',', '.'))
        }
      }
    }

  def stripAccents(s: String): String =
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "")
}
