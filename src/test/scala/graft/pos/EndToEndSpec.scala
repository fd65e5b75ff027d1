package graft.pos

import graft.pos.staging.PaymentsCleaner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Full-chain pipeline: raw report grid → silver cleaner → daily mart
  * → QA → forecast → deposit schedule — the offline twin of the
  * reference's live e2e tier (tests/test_etl_smoke.py:78-202). */
class EndToEndSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  /** 40 days × 2 payment rows/day as a raw report grid with title
    * junk, EU/US number formats, and a footer. */
  private def rawGrid: DataFrame = {
    val s = spark
    import s.implicits._
    val header = Seq("Fecha", "Orden", "Forma de pago", "Propina",
      "Total", "Propina", "Total")
    val base = java.time.LocalDate.parse("2025-01-01")
    val dataRows = (0 until 40).flatMap { i =>
      val d = base.plusDays(i.toLong).toString
      val amount = 100.0 + 10.0 * (i % 7)
      Seq(
        Seq(d, s"${1000 + i * 2}", "Efectivo", "12.00",
          f"$amount%.2f".replace(".", ","), "7.00",
          f"$amount%.2f"),
        Seq(d, s"${1001 + i * 2}", "Tarjeta Crédito", "12.00",
          f"$amount%.2f", "5.00", f"${amount / 2}%.2f"))
    }
    val all = Seq(Seq("Reporte de pagos"), Seq.empty[String], header) ++
      dataRows :+ Seq("", "Total general")
    val n = all.map(_.size).max
    val padded = all.zipWithIndex.map { case (r, i) =>
      (i.toLong, r.padTo(n, null: String)) }
    val df = padded.toDF("_row", "cells")
    (0 until n).foldLeft(df) { (d0, i) =>
      d0.withColumn(s"_c$i", org.apache.spark.sql.functions
        .col("cells").getItem(i))
    }.drop("cells")
  }

  test("grid → cleaner → mart → QA → forecast → deposits") {
    // silver
    val fact = PaymentsCleaner.clean(rawGrid, "Kavia")
    assert(fact.count() == 80)
    assert(fact.columns.contains("ticket_total"))

    // gold mart
    val mart = PaymentsDaily.aggregate(fact)
    assert(mart.count() == 40)
    val first = mart.collect()(0)
    // day 0: efectivo 100,00 (EU format) + credito 50.00 (US format,
    // the fixture halves card tickets); 2 tickets
    assert(first.getAs[Double]("ingreso_efectivo") == 100.0)
    assert(first.getAs[Double]("ingreso_credito") == 50.0)
    assert(first.getAs[Long]("num_tickets") == 2)
    assert(first.getAs[Double]("propinas") == 12.0) // 7 + 5 per day

    // QA: clean series, no anomalies flagged as errors
    val qa = Qa.runPaymentsQa(mart)
    assert(!qa.hasErrors)
    assert(qa.summary("missing_days") == 0)
    assert(qa.summary("duplicate_days") == 0)

    // forecast + deposits
    val (fc, dep) = Forecast.runPaymentsForecast(mart, horizonDays = 7)
    assert(fc.filter(fc("metric") === "ingreso_total").count() == 7)
    // weekly-periodic series → naive forecast repeats the pattern:
    // forecast(d) = value(d - 7); ingreso_efectivo day 41 (i=40, 40%7=5
    // → 150) equals i=33's 130+... check one exact value
    import org.apache.spark.sql.functions._
    val f = fc.filter(col("metric") === "ingreso_efectivo" &&
      col("fecha") === "2025-02-10").collect()(0) // i=40 → lag7 i=33
    assert(f.getAs[Double]("valor") == 100.0 + 10.0 * (33 % 7))
    assert(dep.count() == 7)
    dep.collect().foreach { r =>
      assert(r.getAs[Double]("total") >= 0.0)
    }
  }
}
