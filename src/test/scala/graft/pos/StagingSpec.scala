package graft.pos.staging

import graft.pos.DataQualityError
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Cleaner behavior on FIXTURES.md §7 raw-grid fixtures: junk title
  * rows, duplicate headers, footer rows, dirty values. */
class StagingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  /** Bronze contract: grid → (_row, _c0.._cN). */
  private def grid(rows: Seq[Seq[String]]): DataFrame = {
    val s = spark
    import s.implicits._
    val n = rows.map(_.size).max
    val padded = rows.zipWithIndex.map { case (r, i) =>
      (i.toLong, r.padTo(n, null: String))
    }
    val df = padded.toDF("_row", "cells")
    (0 until n).foldLeft(df) { (d, i) =>
      d.withColumn(s"_c$i", org.apache.spark.sql.functions
        .col("cells").getItem(i))
    }.drop("cells")
  }

  private val paymentsRaw = Seq(
    Seq("Reporte de pagos", "", "", "", "", "", "", ""),
    Seq("", "", "", "", "", "", "", ""),
    // duplicate 'Propina' + Total/Total.1 positional pair; Cajero dropped
    Seq("Fecha", "Orden", "Forma de pago", "Propina", "Total",
      "Propina", "Total", "Cajero"),
    Seq("2025-01-15", "1001", "Efectivo", "25.00", "5,000.00",
      "10.00", "1.234,56", "Juan"),
    Seq("15/01/2025", "1002", "Tarjeta Crédito ", "25.00",
      "5,000.00", "5.00", "(100.00)", "Juan"),
    Seq("", "", "", "", "", "", "", ""),          // empty row
    Seq("", "Total general", "", "", "", "", "", "")) // footer (blank first col)

  test("payments cleaner: header detect, Propina disambiguation, coercion") {
    val out = PaymentsCleaner.clean(grid(paymentsRaw), "Kavia_OLD")
    assert(out.columns.contains("total_day_tips")) // first Propina
    assert(out.columns.contains("ticket_tip"))     // second Propina
    assert(!out.columns.exists(_.toLowerCase.contains("cajero"))) // dropped
    val rows = out.orderBy(out("order_index")).collect()
    assert(rows.length == 2) // junk/footer/empty rows gone
    val r1 = rows(0)
    assert(r1.getAs[String]("sucursal") == "Kavia") // _OLD stripped
    assert(r1.getAs[java.sql.Date]("operating_date").toString == "2025-01-15")
    assert(r1.getAs[Long]("order_index") == 1001L)
    assert(r1.getAs[Double]("day_total") == 5000.0)   // US grouping
    assert(r1.getAs[Double]("ticket_total") == 1234.56) // EU grouping
    assert(r1.getAs[Double]("total_day_tips") == 25.0)
    assert(r1.getAs[Double]("ticket_tip") == 10.0)
    val r2 = rows(1)
    assert(r2.getAs[java.sql.Date]("operating_date").toString == "2025-01-15") // day-first
    assert(r2.getAs[Double]("ticket_total") == -100.0) // paren negative
    assert(r2.getAs[String]("payment_method") == "Tarjeta Crédito") // NBSP stripped
  }

  test("payments cleaner: eliminations left-join flag (J1)") {
    val s = spark
    import s.implicits._
    val elim = Seq(
      ("2025-01-15", "1002", "Efectivo"),
      ("2025-01-15", "1002", "Tarjeta"), // multi-payment → dedup
      ("2025-01-20", "9999", "Efectivo")
    ).toDF("Fecha de operación", "Orden", "Forma de pago")
    val out = PaymentsCleaner.clean(grid(paymentsRaw), "Kavia",
      eliminations = Some(elim))
    val flags = out.select("order_index", "elimination_present")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags(1001L) == false && flags(1002L) == true)
  }

  test("payments cleaner: chunk-range filter dedups overlap (P3)") {
    val out = PaymentsCleaner.clean(grid(paymentsRaw), "Kavia",
      chunkStart = Some("2025-01-16"), chunkEnd = Some("2025-01-31"))
    assert(out.count() == 0)
  }

  test("payments cleaner: missing sentinel raises") {
    intercept[DataQualityError] {
      PaymentsCleaner.clean(grid(Seq(Seq("a", "b"), Seq("1", "2"))), "K")
    }
  }

  private val salesRaw = Seq(
    Seq("Reporte", "", "", "", "", "", "", "", "", "", "", ""),
    Seq("Sucursal: Plaza-Nativa", "", "", "", "", "", "", "", "", "", "", ""),
    // 2 amount blocks (ticket, item) out of the 4 the report may carry
    Seq("Día", "Fecha de operación", "Orden", "Grupo", "¿Es modificador?",
      "Cantidad", "Subtotal", "IVA", "Total", "Subtotal", "IVA", "Total"),
    Seq("Miércoles", "15/01/2025", "1001", "CAFE", "No",
      "1", "100.00", "16.00", "116.00", "45.00", "7.20", "52.20"),
    Seq("Miércoles", "15/01/2025", "1001", "MOD BEBIDAS", "Sí",
      "1", "100.00", "16.00", "116.00", "10.00", "1.60", "11.60"))

  test("sales cleaner: metadata sucursal, amount blocks, bool coercion") {
    val out = SalesCleaner.clean(grid(salesRaw))
    assert(out.columns.contains("subtotal_ticket"))
    assert(out.columns.contains("subtotal_item"))
    assert(out.columns.contains("total_item"))
    val rows = out.collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("sucursal") == "Plaza Nativa"))
    val mod = rows.find(_.getAs[Boolean]("is_modifier")).get
    assert(mod.getAs[String]("group") == "MOD BEBIDAS")
    assert(mod.getAs[Double]("subtotal_item") == 10.0)
    assert(mod.getAs[Double]("subtotal_ticket") == 100.0)
    val main = rows.find(!_.getAs[Boolean]("is_modifier")).get
    assert(main.getAs[Double]("total_item") == 52.2)
  }

  test("sales headers: full 4-block disambiguation order") {
    val hdrs = Seq("Fecha de operación", "Subtotal", "IVA", "IEPS", "Total",
      "Subtotal", "IVA", "IEPS", "Total", "Subtotal", "IVA", "IEPS",
      "Total", "Subtotal", "IVA", "IEPS", "Total")
    val out = SalesCleaner.normalizeHeaders(hdrs)
    assert(out == Seq("operating_date",
      "subtotal_ticket", "iva_ticket", "ieps_ticket", "total_ticket",
      "subtotal_item", "iva_item", "ieps_item", "total_item",
      "subtotal_cortesia_cancel", "iva_cortesia_cancel",
      "ieps_cortesia_cancel", "total_cortesia_cancel",
      "subtotal_anulacion", "iva_anulacion", "ieps_anulacion",
      "total_anulacion"))
  }

  test("sucursal fallback: modal Cajero value when no hint (F16)") {
    val out = PaymentsCleaner.clean(grid(paymentsRaw), sucursalHint = "")
    // 'Juan' is the modal (only) Cajero value in the fixture
    assert(out.collect().forall(_.getAs[String]("sucursal") == "Juan"))
  }

  test("slugify (F9): accents, spaces, underscores, empties") {
    assert(Headers.slugify("Punto Valle") == "punto-valle")
    assert(Headers.slugify("Café") == "cafe")
    assert(Headers.slugify("Kavia_OLD") == "kavia_old")
    assert(Headers.slugify("  ¡¡!!  ") == "unknown")
  }

  private val transfersRaw = Seq(
    Seq("Transferencias entre almacenes", "", "", "", "", "", "", "", "",
      "", "", "", "", ""),
    // token-scored header; duplicate Costo/IVA/IEPS (second = unit)
    Seq("Orden", "Almacén origen", "Sucursal destino", "Almacén destino",
      "Fecha", "Estatus", "Cantidad", "Departamento", "Clave",
      "Producto", "Presentación", "Costo", "IVA", "IEPS", "Costo",
      "IVA", "IEPS"),
    Seq("T-1001", "ALMACEN GENERAL", "PANEM - HOTEL KAVIA N",
      "ALMACEN KAVIA", "2025-09-08", "Enviada", "12", "ABARROTES",
      "P001", "Harina 10kg", "Saco", "480.00", "76.80", "0.00",
      "40.00", "6.40", "0.00"),
    Seq("", "", "", "", "", "", "", "", "", "", "", "", "", "", "", "",
      ""))

  test("transfers cleaner: token-scored header, unit columns, derived math") {
    val out = TransfersCleaner.clean(grid(transfersRaw))
    val r = out.collect()(0)
    assert(out.count() == 1) // blank-orden row dropped
    assert(r.getAs[Double]("cantidad") == 12.0)
    assert(r.getAs[Double]("costo") == 480.0)  // FIRST Costo (extended)
    assert(r.getAs[Double]("iva_total") == 12.0 * 6.4) // second IVA = unit
    assert(r.getAs[Double]("ieps_total") == 0.0)
    assert(r.getAs[Double]("costo_unitario") == 480.0 / 12.0)
    assert(r.getAs[java.sql.Date]("fecha").toString == "2025-09-08")
    assert(r.getAs[String]("almacen_origen") == "ALMACEN GENERAL")
  }

  test("transfers cleaner: missing required column raises") {
    val bad = Seq(
      Seq("Orden", "Fecha", "Cantidad"),
      Seq("T-1", "2025-01-01", "5"))
    intercept[DataQualityError] { TransfersCleaner.clean(grid(bad)) }
  }

  test("formula injection neutralized in payment cells (F2)") {
    val inj = Seq(
      Seq("Fecha", "Orden", "Forma de pago", "Propina", "Total"),
      Seq("2025-01-15", "1", "=SUM(A1:A10)", "0", "10"))
    val out = PaymentsCleaner.clean(grid(inj), "K")
    assert(out.collect()(0).getAs[String]("payment_method") ==
      "'=SUM(A1:A10)")
  }
}
