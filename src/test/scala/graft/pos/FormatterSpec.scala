package graft.pos

import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite

/** Golden-text contracts for the forecast renderers. The expected
  * strings were generated by executing the REFERENCE formatters
  * (`forecasting/formatters/console.py` / `telegram.py`) on this
  * exact fixture — byte-for-byte parity, including Python's
  * half-even `{v:,.2f}` rounding of inexact binary doubles
  * (2.675 → $2.67) and the cross-branch accumulation order. */
class FormatterSpec extends AnyFunSuite {
  import Formatters._

  private def d(s: String) = LocalDate.parse(s)

  private val fixture = ForecastResult(
    forecast = Seq(
      ForecastPoint("Centro", d("2024-06-03"), "ingreso_efectivo", 1000.0),
      ForecastPoint("Centro", d("2024-06-03"), "ingreso_total", 1234.5),
      ForecastPoint("Centro", d("2024-06-04"), "ingreso_total", 0.375),
      ForecastPoint("Norte", d("2024-06-03"), "ingreso_total", 2.675)),
    depositSchedule = Seq(
      DepositDay(d("2024-06-05"), 500.0, 0.0, 0.0, 500.0)),
    horizonDays = 7)

  test("console golden text (reference-generated)") {
    val expected =
      "Forecast de Pagos - Proximos 7 Dias\n" +
      "============================================================\n" +
      "\nCentro:\n  Efectivo:\n    Lunes 2024-06-03: $1,000.00\n" +
      "    Total: $1,000.00\n  Total:\n" +
      "    Lunes 2024-06-03: $1,234.50\n    Martes 2024-06-04: $0.38\n" +
      "    Total: $1,234.88\n\nNorte:\n  Total:\n" +
      "    Lunes 2024-06-03: $2.67\n    Total: $2.67\n\n" +
      "Cash Flow (Depositos Reales):\n" +
      "------------------------------------------------------------\n" +
      "Miércoles 2024-06-05:\n  Efectivo: $500.00\n  Total: $500.00\n"
    assert(formatForecastForConsole(fixture) == expected)
  }

  test("telegram golden text (reference-generated)") {
    val expected =
      "📊 <b>Forecast de Pagos - Próximos 7 Días</b>\n\n" +
      "<b>Centro</b>\nEfectivo:\n  Lunes 2024-06-03: $1,000.00\n" +
      "  <b>Total: $1,000.00</b>\n\nTotal:\n" +
      "  Lunes 2024-06-03: $1,234.50\n  Martes 2024-06-04: $0.38\n" +
      "  <b>Total: $1,234.88</b>\n\n\n" +
      "<b>Norte</b>\nTotal:\n  Lunes 2024-06-03: $2.67\n" +
      "  <b>Total: $2.67</b>\n\n\n" +
      "<b>TOTAL:</b>\nEfectivo:\n  Lunes 2024-06-03: $1,000.00\n" +
      "  <b>Total: $1,000.00</b>\n\nTotal:\n" +
      "  Lunes 2024-06-03: $1,237.17\n  Martes 2024-06-04: $0.38\n" +
      "  <b>Total: $1,237.55</b>\n\n" +
      "<b>Cash Flow (Depósitos Reales):</b>\n" +
      "Miércoles 2024-06-05:\n  Efectivo: $500.00\n" +
      "  <b>Total: $500.00</b>\n"
    assert(formatTelegramMessage(fixture) == expected)
  }

  test("sanitizeForConsole strips emojis, accents, HTML tags") {
    val tel = formatTelegramMessage(fixture)
    val san = sanitizeForConsole(tel)
    assert(san.startsWith(" Forecast de Pagos - Prximos 7 Das\n"))
    assert(!san.contains("<b>") && !san.contains("📊"))
    assert(san.contains("Mircoles 2024-06-05:"))
  }

  test("empty forecast: console placeholder, telegram raises") {
    val empty = ForecastResult(Nil, Nil, 7)
    assert(formatForecastForConsole(empty) == "No forecasts available.")
    val e = intercept[DataQualityError](formatTelegramMessage(empty))
    assert(e.getMessage.contains("forecast DataFrame is empty"))
  }

  test("money: python {v:,.2f} parity on half-even boundaries") {
    assert(money(0.375) == "$0.38") // exact binary half -> even up
    assert(money(0.125) == "$0.12") // exact binary half -> even down
    assert(money(2.675) == "$2.67") // inexact below half
    assert(money(1234.5) == "$1,234.50")
    assert(money(-1234.5) == "$-1,234.50")
  }

  test("empty deposit schedule: console omits Cash Flow, telegram " +
    "keeps the section header (reference branch shapes)") {
    val res = fixture.copy(depositSchedule = Nil)
    assert(!formatForecastForConsole(res).contains("Cash Flow"))
    val tel = formatTelegramMessage(res)
    assert(tel.contains("<b>Cash Flow (Depósitos Reales):</b>"))
    assert(tel.endsWith("<b>Cash Flow (Depósitos Reales):</b>"))
  }

  test("errorTelegram mirrors pipeline's best-effort notification") {
    assert(errorTelegram("boom") ==
      "[ERROR] <b>Forecast Pipeline Error</b>\n\nPipeline failed: boom")
  }

  test("ForecastResult.collect round-trips the forecast frames") {
    val spark = graft.TestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 35 days of history for one branch -> naive 7-day horizon
    val rows = (0 until 35).map { i =>
      ("Centro", LocalDate.parse("2024-05-01").plusDays(i.toLong).toString,
        100.0 + (i % 7) * 10.0, 50.0, 25.0)
    }
    val mart = rows.toDF("sucursal", "fecha", "ingreso_efectivo",
        "ingreso_credito", "ingreso_debito")
      .withColumn("fecha", col("fecha").cast("date"))
    val (fc, dep) = Forecast.runPaymentsForecast(mart, horizonDays = 7)
    val res = ForecastResult.collect(fc, dep, horizonDays = 7)
    assert(res.forecast.nonEmpty && res.depositSchedule.nonEmpty)
    val con = formatForecastForConsole(res)
    val tel = formatTelegramMessage(res)
    assert(con.startsWith("Forecast de Pagos - Proximos 7 Dias"))
    assert(con.contains("Centro:") && con.contains("Cash Flow"))
    assert(tel.contains("<b>TOTAL:</b>"))
    // console text is ASCII-safe after sanitize
    assert(sanitizeForConsole(tel).forall(_ < 0x80))
  }
}
