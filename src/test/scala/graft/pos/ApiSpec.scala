package graft.pos

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Fetch/load idempotence + edge CSV IO. */
class ApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def payments: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      ("Kavia", "2025-01-15", 1, "Efectivo", 100.0),
      ("Kavia", "2025-01-16", 2, "Tarjeta Crédito", 50.0),
      ("Kavia", "2025-02-01", 3, "Efectivo", 75.0) // outside range
    ).toDF("sucursal", "operating_date", "order_index", "payment_method",
      "ticket_total")
      .withColumn("operating_date",
        org.apache.spark.sql.functions.col("operating_date").cast("date"))
  }

  test("fetchPaymentsDaily: compute once, serve from storage, force recompute") {
    val root = Files.createTempDirectory("api").toString
    val api = new PosApi(spark, root)
    val m1 = api.fetchPaymentsDaily(payments, "2025-01-01", "2025-01-31")
    assert(m1.count() == 2) // Feb row filtered by range
    assert(m1.columns.contains("ingreso_efectivo"))
    // second fetch: served from storage (manifest skip). Prove it by
    // passing a DIFFERENT input — output must still be the stored one.
    val other = payments.withColumn("ticket_total",
      org.apache.spark.sql.functions.lit(999.0))
    val m2 = api.fetchPaymentsDaily(other, "2025-01-01", "2025-01-31")
    assert(m2.collect().map(_.getAs[Double]("ingreso_efectivo")).sum == 100.0)
    // force: recomputes from the new input
    val m3 = api.fetchPaymentsDaily(other, "2025-01-01", "2025-01-31",
      mode = "force")
    assert(m3.collect().map(_.getAs[Double]("ingreso_efectivo")).sum == 999.0)
  }

  test("invalid mode raises ConfigError (marts.py mode validation)") {
    val api = new PosApi(spark, Files.createTempDirectory("api").toString)
    intercept[ConfigError] {
      api.fetchPaymentsDaily(payments, "2025-01-01", "2025-01-31",
        mode = "sometimes")
    }
  }

  test("order_times raw facade: fetch gates on manifests, load verifies") {
    val dir = Files.createTempDirectory("ot").toString
    val ot = new OrderTimesRaw(dir)
    // load before any fetch raises (raw.py FileNotFoundError contract)
    intercept[ExtractionError] { ot.load("2025-01-01", "2025-01-31") }

    var calls = 0
    var lastChunks: Seq[(java.time.LocalDate, java.time.LocalDate)] = Nil
    def dl(chunks: Seq[(java.time.LocalDate, java.time.LocalDate)]): Unit = {
      calls += 1; lastChunks = chunks
    }
    ot.fetch("2025-01-01", "2025-01-31")(dl)
    assert(calls == 1 && lastChunks.nonEmpty)
    assert(ot.load("2025-01-01", "2025-01-31").status == "ok")
    // second missing-mode fetch: manifest covers the range → no call
    ot.fetch("2025-01-01", "2025-01-31")(dl)
    assert(calls == 1)
    // force re-downloads the whole range
    ot.fetch("2025-01-01", "2025-01-31", mode = "force")(dl)
    assert(calls == 2)
    assert(lastChunks == Seq((java.time.LocalDate.parse("2025-01-01"),
      java.time.LocalDate.parse("2025-01-31"))))
    // a failing download leaves a failed manifest → load still raises
    val dir2 = Files.createTempDirectory("ot2").toString
    val ot2 = new OrderTimesRaw(dir2)
    intercept[RuntimeException] {
      ot2.fetch("2025-02-01", "2025-02-28") { _ =>
        throw new RuntimeException("transport down") }
    }
    intercept[ExtractionError] { ot2.load("2025-02-01", "2025-02-28") }
    // invalid mode raises before anything runs
    intercept[ConfigError] {
      ot.fetch("2025-01-01", "2025-01-31", mode = "always")(dl)
    }
  }

  private def itemLines: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      ("Kavia", "2025-01-15", 1001, "PAN01", false, "PAN DULCE", 2.0, 30.0, 34.8),
      ("Nativa", "2025-01-15", 2001, "PAN02", false, "PAN DULCE", 1.0, 25.0, 29.0),
      ("Kavia", "2025-02-01", 3001, "PAN01", false, "PAN DULCE", 1.0, 99.0, 99.9) // outside range
    ).toDF("sucursal", "operating_date", "order_id", "item_key",
      "is_modifier", "group", "quantity", "subtotal_item", "total_item")
      .withColumn("operating_date",
        org.apache.spark.sql.functions.col("operating_date").cast("date"))
  }

  test("fetchSalesByGroup: chained marts, storage idempotence, branch filter") {
    val root = Files.createTempDirectory("api").toString
    val api = new PosApi(spark, root)
    // load before any fetch raises (load_group FileNotFoundError contract)
    intercept[EtlError] { api.loadSalesByGroup("2025-01-01", "2025-01-31") }
    val g1 = api.fetchSalesByGroup(itemLines, "2025-01-01", "2025-01-31")
    assert(g1.columns.contains("Kavia") && g1.columns.contains("Nativa"))
    val pan1 = g1.collect().find(_.getString(0) == "PAN DULCE").get
    assert(pan1.getAs[Double]("Kavia") == 30.0) // Feb row range-filtered
    // the chained ticket mart exists too (fetch_group step 1)
    assert(new java.io.File(s"$root/gold/sales_by_ticket/data").exists())
    // missing mode serves from storage: different input, same stored mart
    val other = itemLines.withColumn("subtotal_item",
      org.apache.spark.sql.functions.lit(500.0))
    val g2 = api.fetchSalesByGroup(other, "2025-01-01", "2025-01-31")
    assert(g2.collect().find(_.getString(0) == "PAN DULCE").get
      .getAs[Double]("Kavia") == 30.0)
    // force recomputes both stages from the new input
    val g3 = api.fetchSalesByGroup(other, "2025-01-01", "2025-01-31",
      mode = "force")
    assert(g3.collect().find(_.getString(0) == "PAN DULCE").get
      .getAs[Double]("Kavia") == 500.0)
    // branch filter keeps the category column + substring matches only
    val gk = api.loadSalesByGroup("2025-01-01", "2025-01-31",
      branches = Seq("kavia"))
    assert(gk.columns.toSeq == Seq(g1.columns.head, "Kavia"))
    // no match → unfiltered (reference warns and returns everything)
    assert(api.loadSalesByGroup("2025-01-01", "2025-01-31",
      branches = Seq("nowhere")).columns.length == g1.columns.length)
  }

  test("fetchTransfersPivot: storage idempotence + load contract") {
    val s = spark
    import s.implicits._
    val transfers = Seq(
      ("T-1", "ALMACEN PRODUCTO TERMINADO", "PANEM - HOTEL KAVIA N",
        "COCINA", 480.0),
      ("T-2", "ALMACEN GENERAL", "PANEM - LA CARRETA N", "TOSTADOR", 90.0)
    ).toDF("orden", "almacen_origen", "sucursal_destino", "departamento",
      "costo")
    val root = Files.createTempDirectory("api").toString
    val api = new PosApi(spark, root)
    intercept[EtlError] { api.loadTransfersPivot("2025-01-01", "2025-01-31") }
    val p1 = api.fetchTransfersPivot(transfers, "2025-01-01", "2025-01-31")
    val rows1 = p1.collect()
    assert(rows1.last.getString(0) == "TOTAL")
    assert(rows1.find(_.getString(0) == "Comida Salada").get
      .getAs[Double]("Kavia") == 480.0)
    // missing mode: stored pivot survives a different input
    val doubled = transfers.withColumn("costo",
      org.apache.spark.sql.functions.col("costo") * 2)
    val p2 = api.fetchTransfersPivot(doubled, "2025-01-01", "2025-01-31")
    assert(p2.collect().find(_.getString(0) == "Comida Salada").get
      .getAs[Double]("Kavia") == 480.0)
    // force recomputes
    val p3 = api.fetchTransfersPivot(doubled, "2025-01-01", "2025-01-31",
      mode = "force")
    assert(p3.collect().find(_.getString(0) == "Comida Salada").get
      .getAs[Double]("Kavia") == 960.0)
    // invalid mode rejected before any work
    intercept[ConfigError] {
      api.fetchTransfersPivot(transfers, "2025-01-01", "2025-01-31",
        mode = "maybe")
    }
  }

  test("CSV BOM round-trip preserves accents and parses back") {
    val s = spark
    import s.implicits._
    val df = Seq(("Tarjeta Crédito", 1234.56), ("Día", -7.0))
      .toDF("método", "monto")
    val out = Files.createTempDirectory("csv").resolve("out.csv").toString
    EdgeIO.writeCsvWithBom(df, out)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte &&
      bytes(2) == 0xBF.toByte)
    val back = EdgeIO.readCleanCsvs(spark, out)
    val rows = back.collect()
    // BOM must not leak into the first header name
    assert(back.columns.toSeq == Seq("método", "monto"))
    assert(rows.map(_.getString(0)).toSet ==
      Set("Tarjeta Crédito", "Día"))
  }
}
