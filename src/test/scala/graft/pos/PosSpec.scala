package graft.pos

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** POS-domain mart/QA/forecast behavior on the FIXTURES.md scenarios —
  * the Spark twin of the reference's own unit tiers (SURVEY §5). */
class PosSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  import scala.jdk.CollectionConverters._

  private def paymentsFixture: DataFrame = {
    val s = spark
    import s.implicits._
    // FIXTURES.md §1: split-payment ticket, elimination flag, 2 branches
    Seq(
      ("Kavia", "2025-01-15", 1001, "Efectivo", 100.0, 10.0, 100.0, 25.0, false),
      ("Kavia", "2025-01-15", 1001, "Tarjeta Crédito", 50.0, 5.0, 100.0, 25.0, false),
      ("Kavia", "2025-01-15", 1002, "Tarjeta Débito", 80.0, 10.0, 100.0, 25.0, true),
      ("Kavia", "2025-01-16", 1003, "UberEats", 60.0, 0.0, 60.0, 0.0, false),
      ("Nativa", "2025-01-15", 2001, "RAPPI pago", 40.0, 4.0, 40.0, 4.0, false),
      ("Nativa", "2025-01-15", 2002, "Transferencia bancaria", 30.0, 0.0, 40.0, 4.0, false)
    ).toDF("sucursal", "operating_date", "order_index", "payment_method",
      "ticket_total", "ticket_tip", "day_total", "total_day_tips",
      "elimination_present")
      .withColumn("operating_date",
        org.apache.spark.sql.functions.col("operating_date").cast("date"))
  }

  test("payment bucketing: rule order and accents (payments_daily.py:157-194)") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "Efectivo" -> "ingreso_efectivo",
      "EFECTIVO MXN" -> "ingreso_efectivo",
      "Rappi crédito" -> "ingreso_rappi",        // rappi wins over credito
      "UberEats" -> "ingreso_ubereats",
      "Subsidio TEC" -> "ingreso_SubsidioTEC",
      "Transferencia" -> "ingreso_transferencia",
      "AMEX" -> "ingreso_amex",
      "American Express" -> "ingreso_amex",
      "Tarjeta Débito" -> "ingreso_debito",
      "Tarjeta DEBITO" -> "ingreso_debito",      // accent-insensitive
      "Tarjeta Crédito" -> "ingreso_credito",
      "Vales" -> "ingreso_otros",
      "" -> "ingreso_otros")
    val got = cases.map(_._1).toDF("m")
      .select(PaymentsDaily.bucketForPaymentMethod($"m"))
      .collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("payments daily mart: hand-computed values (payments_daily.py:125-133)") {
    val mart = PaymentsDaily.aggregate(paymentsFixture,
      holidays = Set(LocalDate.parse("2025-01-15")))
    val rows = mart.collect().map(r =>
      (r.getAs[String]("sucursal"), r.getAs[java.sql.Date]("fecha").toString) -> r).toMap
    val k15 = rows(("Kavia", "2025-01-15"))
    assert(k15.getAs[Double]("ingreso_efectivo") == 100.0)
    assert(k15.getAs[Double]("ingreso_credito") == 50.0)
    assert(k15.getAs[Double]("ingreso_debito") == 80.0)
    assert(k15.getAs[Double]("propinas") == 25.0)
    assert(k15.getAs[Long]("num_tickets") == 2)
    assert(k15.getAs[Long]("tickets_with_eliminations") == 1)
    assert(k15.getAs[Double]("pct_tickets_with_eliminations") == 50.0)
    assert(k15.getAs[Boolean]("is_national_holiday"))
    val n15 = rows(("Nativa", "2025-01-15"))
    assert(n15.getAs[Double]("ingreso_rappi") == 40.0)
    assert(n15.getAs[Double]("ingreso_transferencia") == 30.0)
    val k16 = rows(("Kavia", "2025-01-16"))
    assert(k16.getAs[Double]("ingreso_ubereats") == 60.0)
    assert(!k16.getAs[Boolean]("is_national_holiday"))
  }

  test("tip reconciliation aborts on mismatch (Q6, payments_daily.py:368-397)") {
    val s = spark
    import s.implicits._
    val bad = Seq(
      ("Kavia", "2025-01-15", 1, "Efectivo", 10.0, 1.0, 99.0)
    ).toDF("sucursal", "operating_date", "order_index", "payment_method",
      "ticket_total", "ticket_tip", "total_day_tips")
    val e = intercept[DataQualityError] { PaymentsDaily.aggregate(bad) }
    assert(e.getMessage.contains("tip reconciliation"))
  }

  /** One day key of each awkward kind: a null sucursal, a null
    * operating_date, null order_index lines, a split ticket paid with
    * two methods, eliminated tickets, unknown methods (ingreso_otros),
    * null ticket_tip and elimination flags, and a holiday. Amounts are
    * sums of halves and quarters, exact in binary in any order. */
  private def edgeFixture: DataFrame = {
    val s = spark
    import s.implicits._
    def line(suc: String, day: String, order: java.lang.Long,
             method: String, total: Double, tip: java.lang.Double,
             dayTips: Double, elim: java.lang.Boolean) =
      (suc, day, order, method, total, tip, dayTips, elim)
    Seq(
      line("Kavia", "2025-01-15", 1001L, "Efectivo", 100.25, 10.0, 25.0, false),
      line("Kavia", "2025-01-15", 1001L, "Tarjeta Crédito", 50.5, 5.0, 25.0, false),
      line("Kavia", "2025-01-15", 1002L, "Tarjeta Débito", 80.75, 10.0, 25.0, true),
      line("Kavia", "2025-01-15", 1003L, "Vales", 20.0, 0.0, 25.0, false),
      line("Kavia", "2025-01-15", null, "Efectivo", 5.0, null, 25.0, false),
      line("Kavia", "2025-01-16", 1004L, "UberEats", 60.0, 0.0, 2.0, false),
      line("Kavia", "2025-01-16", 1005L, "AMEX", 30.0, 2.0, 2.0, false),
      line("Kavia", "2025-01-16", 1005L, "Efectivo", 10.0, 0.0, 2.0, true),
      line(null, "2025-01-15", 3001L, "Efectivo", 40.0, 4.0, 4.0, false),
      line(null, "2025-01-15", 3002L, "", 8.0, 0.0, 4.0, true),
      line("Nativa", null, 2001L, "RAPPI pago", 15.0, 1.0, 1.0, false),
      line("Nativa", "2025-01-15", 2002L, "Transferencia", 30.0, null, 0.5, null),
      line("Nativa", "2025-01-15", 2003L, "Subsidio TEC", 12.5, 0.5, 0.5, false),
      line("Nativa", "2025-01-15", null, "Cheque", 7.25, 0.0, 0.5, true)
    ).toDF("sucursal", "operating_date", "order_index", "payment_method",
      "ticket_total", "ticket_tip", "total_day_tips", "elimination_present")
      .withColumn("operating_date",
        org.apache.spark.sql.functions.col("operating_date").cast("date"))
  }

  test("payments daily mart: null keys, null order_index, split and " +
    "eliminated tickets, unknown methods and a holiday") {
    val mart = PaymentsDaily.aggregate(edgeFixture,
      holidays = Set(LocalDate.parse("2025-01-16")))
    def day(d: String) = java.sql.Date.valueOf(d)
    // the rows PaymentsDaily emitted when it pivoted the buckets and
    // counted distinct tickets, before the one-exchange aggregate
    val want = Seq(
      Row(null, day("2025-01-15"), 40.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
        8.0, 0.0, 0L, 0L, 0.0, false),
      Row("Kavia", day("2025-01-15"), 105.25, 50.5, 80.75, 0.0, 0.0, 0.0,
        0.0, 0.0, 20.0, 25.0, 3L, 1L, 33.33, false),
      Row("Kavia", day("2025-01-16"), 10.0, 0.0, 0.0, 30.0, 60.0, 0.0, 0.0,
        0.0, 0.0, 2.0, 2L, 1L, 50.0, true),
      Row("Nativa", null, 0.0, 0.0, 0.0, 0.0, 0.0, 15.0, 0.0, 0.0, 0.0, 0.0,
        0L, 0L, 0.0, false),
      Row("Nativa", day("2025-01-15"), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 30.0,
        12.5, 7.25, 0.5, 2L, 0L, 0.0, false))
    assert(mart.columns.toSeq == Seq("sucursal", "fecha") ++
      PaymentsDaily.BucketCols ++ Seq("propinas", "num_tickets",
        "tickets_with_eliminations", "pct_tickets_with_eliminations",
        "is_national_holiday"))
    assert(mart.collect().toSeq == want)
  }

  /** Ticket lines of `branches` branches over 30 days, cent amounts
    * that a double sum would round differently in different orders. */
  private def centFact(branches: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val methods = Seq("Efectivo", "Tarjeta Crédito", "Tarjeta Débito", "AMEX")
    val rows = for (b <- 0 until branches; d <- 0 until 30; k <- 0 until 9)
      yield {
        val c = (b * 7919 + d * 104729 + k * 1299709) % 1000003
        (s"B$b", LocalDate.parse("2025-01-01").plusDays(d.toLong).toString,
          (b * 1000 + d * 10 + k / 2).toLong, methods(c % methods.size),
          c / 100.0 + 0.01, (c % 997) / 100.0, c % 13 == 0)
      }
    rows.toDF("sucursal", "operating_date", "order_index", "payment_method",
      "ticket_total", "ticket_tip", "elimination_present")
      .withColumn("operating_date", $"operating_date".cast("date"))
  }

  test("payments daily mart: the same bits whatever the fact's row order") {
    val fact = centFact(6)
    val reversed = spark.createDataFrame(
      fact.collect().reverse.toSeq.asJava, fact.schema).coalesce(1)
    val a = PaymentsDaily.aggregate(fact.repartition(8)).collect().toSeq
    assert(a.size == 6 * 30)
    assert(a == PaymentsDaily.aggregate(reversed).collect().toSeq)
  }

  test("payments daily mart: stored as one file, read back in " +
    "(sucursal, fecha) order") {
    val dir = java.nio.file.Files.createTempDirectory("pos_daily")
    PaymentsDaily.aggregate(centFact(6).repartition(8))
      .write.mode("overwrite").parquet(dir.toString)
    val parts = dir.toFile.listFiles().map(_.getName)
      .filter(_.endsWith(".parquet"))
    assert(parts.length == 1, parts.mkString(", "))
    val keys = spark.read.parquet(dir.toString).collect().toSeq
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay))
    assert(keys.size == 6 * 30)
    assert(keys == keys.sorted)
  }

  test("payments daily mart: one exchange of the lines below the " +
    "materialized day rows; no Expand, no pivot") {
    import org.apache.spark.sql.execution.{ExpandExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      PaymentsDaily.aggregate(edgeFixture)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val checkpoints = seen.asScala.collect {
      case (f, qe) if f.toLowerCase.contains("checkpoint") => qe.executedPlan
    }.toSeq
    assert(checkpoints.size == 1, seen.asScala.map(_._1).mkString(", "))
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = checkpoints.head
    val exchanges = helper.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, plan.toString)
    assert(helper.collect(plan) { case e: ExpandExec => e }.isEmpty,
      plan.toString)
    assert(!plan.toString.toLowerCase.contains("pivot"), plan.toString)
  }

  test("missing required column raises (Q1)") {
    val s = spark
    import s.implicits._
    val df = Seq(("K", "2025-01-01")).toDF("sucursal", "operating_date")
    val e = intercept[DataQualityError] { PaymentsDaily.aggregate(df) }
    assert(e.getMessage.contains("payment_method"))
  }

  private def salesFixture: DataFrame = {
    val s = spark
    import s.implicits._
    // FIXTURES.md §2 (no pdv_txn_id → composite key)
    Seq(
      ("Kavia", "2025-01-15", 1001, "CAFE01", false, "CAFE", 1.0, 45.0, 52.2),
      ("Kavia", "2025-01-15", 1001, "PAN01", false, "PAN DULCE", 2.0, 30.0, 34.8),
      ("Kavia", "2025-01-15", 1001, "MOD_LECHE", true, "MOD BEBIDAS", 1.0, 10.0, 11.6),
      ("Kavia", "2025-01-15", 1002, "CAFE01", false, "CAFE", 1.0, 45.0, 52.2),
      ("Nativa", "2025-01-15", 2001, "JUGO01", false, "JUGOS", 1.0, 35.0, 40.6),
      ("Nativa", "2025-01-15", 2001, "PAN02", false, "PAN DULCE", 1.0, 25.0, 29.0)
    ).toDF("sucursal", "operating_date", "order_id", "item_key",
      "is_modifier", "group", "quantity", "subtotal_item", "total_item")
  }

  test("sales by ticket: dynamic pivot + total cost (A7/A9)") {
    val t = SalesByTicket.aggregateByTicket(salesFixture)
    assert(t.count() == 3) // item-line grain → ticket grain
    val cols = t.columns.toSet
    assert(cols("CAFE_subtotal") && cols("PAN_DULCE_total") &&
      cols("MOD_BEBIDAS_subtotal") && cols("total_ticket_cost"))
    val k1001 = t.filter(t("order_id") === 1001).collect()(0)
    assert(k1001.getAs[Double]("CAFE_subtotal") == 45.0)
    assert(k1001.getAs[Double]("PAN_DULCE_subtotal") == 30.0)
    assert(math.abs(k1001.getAs[Double]("total_ticket_cost") -
      (52.2 + 34.8 + 11.6)) < 1e-9)
    val n2001 = t.filter(t("order_id") === 2001).collect()(0)
    assert(n2001.getAs[Double]("CAFE_subtotal") == 0.0) // filled
    assert(math.abs(n2001.getAs[Double]("total_ticket_cost") -
      (40.6 + 29.0)) < 1e-9)
  }

  test("sales by ticket: pdv_txn_id key when fully populated") {
    val s = spark
    import s.implicits._
    val withPdv = salesFixture.withColumn("pdv_txn_id",
      org.apache.spark.sql.functions.concat(
        $"sucursal", org.apache.spark.sql.functions.lit("-"), $"order_id"))
    assert(SalesByTicket.groupingKey(withPdv) == Seq("pdv_txn_id"))
    assert(SalesByTicket.groupingKey(salesFixture) ==
      Seq("order_id", "sucursal", "operating_date"))
  }

  test("sales by group: RAW_MAP consolidation + row order (sales_by_group.py)") {
    val t = SalesByTicket.aggregateByTicket(salesFixture)
    val g = SalesByGroup.buildCategoryPivot(t)
    val rows = g.collect()
    val labels = rows.map(_.getString(0)).toSeq
    // CAFE (unmapped raw) → EXTRAS y MISC default; MOD BEBIDAS → EXTRAS;
    // PAN DULCE maps to itself; JUGOS (unmapped) → EXTRAS
    assert(labels.contains("PAN DULCE") && labels.contains("EXTRAS y MISC"))
    // fixed order: PAN DULCE (RowOrder) before extras appended at bottom
    val pan = rows.find(_.getString(0) == "PAN DULCE").get
    val kaviaIdx = g.columns.indexOf("Kavia")
    val nativaIdx = g.columns.indexOf("Nativa")
    assert(pan.getDouble(kaviaIdx) == 30.0)
    assert(pan.getDouble(nativaIdx) == 25.0)
    val extras = rows.find(_.getString(0) == "EXTRAS y MISC").get
    assert(extras.getDouble(kaviaIdx) == 45.0 + 10.0 + 45.0)
    assert(extras.getDouble(nativaIdx) == 35.0)
  }

  private def transfersFixture: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      ("T-1", "ALMACEN PRODUCTO TERMINADO", "PANEM - HOTEL KAVIA N", "COCINA", 480.0),
      ("T-2", "ALMACEN PRODUCTO TERMINADO", "PANEM - PLAZA NATIVA", "PAN DULCE", 120.0),
      ("T-3", "ALMACEN GENERAL", "PANEM - HOTEL KAVIA N", "ABARROTES", 200.0),
      ("T-4", "ALMACEN GENERAL", "PANEM - LA CARRETA N", "TOSTADOR", 90.0),
      ("T-5", "ALMACEN GENERAL", "PANEM - HOTEL KAVIA N", "MISTERIO", 55.0) // unmapped
    ).toDF("orden", "almacen_origen", "sucursal_destino", "departamento",
      "costo")
  }

  test("transfers pivot: buckets, TOTAL row/col, unmapped report (A12/F11)") {
    val p = TransfersPivot.buildPivot(transfersFixture)
    val rows = p.collect()
    assert(rows.last.getString(0) == "TOTAL")
    val kIdx = p.columns.indexOf("Kavia")
    val comida = rows.find(_.getString(0) == "Comida Salada").get
    assert(comida.getDouble(kIdx) == 480.0)
    val cafe = rows.find(_.getString(0) == "Cafe").get
    assert(cafe.getDouble(p.columns.indexOf("Carreta")) == 90.0)
    val totalIdx = p.columns.indexOf("TOTAL")
    assert(rows.last.getDouble(totalIdx) == 480.0 + 120.0 + 200.0 + 90.0)
    // unmapped row excluded from pivot, reported separately
    val um = TransfersPivot.unmappedReport(transfersFixture).collect()(0)
    assert(um.getLong(0) == 1 && um.getDouble(1) == 55.0)
  }

  private def martFixture(days: Int, spike: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    val base = LocalDate.parse("2025-01-01")
    val rows = (0 until days).flatMap { i =>
      val d = base.plusDays(i.toLong).toString
      val v = if (spike && i == days - 1) 100000.0
              else 1000.0 + 100.0 * (i % 7)
      Seq(("Kavia", d, v, 500.0, 300.0, 50L),
          ("Nativa", d, v * 0.5, 250.0, 150.0, 30L))
    }
    rows.toDF("sucursal", "fecha", "ingreso_efectivo", "ingreso_credito",
      "ingreso_debito", "num_tickets")
      .withColumn("fecha", org.apache.spark.sql.functions.col("fecha").cast("date"))
  }

  private def padMart(df: DataFrame): DataFrame = {
    // add the remaining required mart columns as zeros
    val zeros = Seq("ingreso_amex", "ingreso_ubereats", "ingreso_rappi",
      "ingreso_transferencia", "ingreso_SubsidioTEC", "ingreso_otros",
      "propinas")
    zeros.foldLeft(df)((d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.lit(0.0)))
  }

  test("QA: levels, zero-method, missing day, duplicate, z-score spike") {
    val s = spark
    import s.implicits._
    val good = padMart(martFixture(70, spike = true))
    // drop one day for Kavia + duplicate one Nativa day
    val gap = good.filter(!($"sucursal" === "Kavia" &&
      $"fecha" === "2025-01-10"))
    val dup = gap.unionByName(
      gap.filter($"sucursal" === "Nativa" && $"fecha" === "2025-01-05"))
    val r = Qa.runPaymentsQa(dup, level = 4)
    assert(r.summary("null_key_rows") == 0)
    assert(r.summary("negative_rows") == 0)
    assert(r.summary("missing_days") == 1)
    assert(r.summary("duplicate_days") == 1)
    // the anomaly rows, recomputed in plain Scala from the rule: per
    // (sucursal, money column) in date order, the mean and sample
    // stddev of the last 60 rows; |z| >= 4 flags the row
    val money = PaymentsDaily.BucketCols :+ "propinas"
    val want = dup.collect().toSeq.groupBy(_.getAs[String]("sucursal"))
      .toSeq.flatMap { case (suc, rs) =>
        val byDay = rs.sortBy(_.getAs[java.sql.Date]("fecha").getTime)
        for {
          m <- money
          vs = byDay.map(_.getAs[Double](m))
          i <- vs.indices
          win = vs.slice(math.max(0, i - 59), i + 1)
          if win.length > 1
          mu = win.sum / win.length
          sd = math.sqrt(win.map(v => (v - mu) * (v - mu)).sum /
            (win.length - 1))
          if sd > 0 && math.abs((vs(i) - mu) / sd) >= 4.0
        } yield (suc, byDay(i).getAs[java.sql.Date]("fecha").toString, m)
      }.sorted
    assert(want.contains(("Kavia", "2025-03-11", "ingreso_efectivo")))
    val anomalies = r.zscoreAnomalies.get
    val got = anomalies.collect().toSeq.map(a => (a.getAs[String]("sucursal"),
      a.getAs[java.sql.Date]("fecha").toString, a.getAs[String]("metric")))
    assert(got.sorted == want)
    assert(r.summary("zscore_anomalies") == anomalies.count())
    assert(!r.hasErrors)
    // zero-method: tickets but no card income
    val zm = Qa.runPaymentsQa(padMart(martFixture(5, spike = false))
      .withColumn("ingreso_credito", org.apache.spark.sql.functions.lit(0.0))
      .withColumn("ingreso_debito", org.apache.spark.sql.functions.lit(0.0)),
      level = 3)
    assert(zm.summary("zero_method_days") == 10)
  }

  test("forecast: naive lag-7 values, holiday skip, deposit schedule") {
    val s = spark
    import s.implicits._
    // a second Kavia row on 2025-01-22 (efectivo 7.0): the series sums it
    val extra = Seq(("Kavia", "2025-01-22", 7.0, 0.0, 0.0, 0L))
      .toDF("sucursal", "fecha", "ingreso_efectivo", "ingreso_credito",
        "ingreso_debito", "num_tickets")
      .withColumn("fecha", $"fecha".cast("date"))
    val mart = padMart(martFixture(35, spike = false).unionByName(extra))
    // the 2025-01-29 holiday makes 01-28..01-30 adjacent, so the targets
    // 02-05 and 02-06 skip their k = 1 sources and take k = 2
    val (fc, dep) = Forecast.runPaymentsForecast(mart, horizonDays = 7,
      holidays = Set(LocalDate.parse("2025-01-29")))
    import org.apache.spark.sql.functions._
    val fcRows = fc.filter(col("sucursal") === "Kavia" &&
      col("metric") === "ingreso_efectivo").collect()
    assert(fcRows.length == 7)
    // last data date = 2025-02-04 (day 34); the value pattern repeats
    // weekly (1000 + 100 * (i % 7)), so every lag-7 source repeats it
    // too, except 2025-01-22 (i = 21, 1000.0), which carries the
    // duplicate's 7.0: 02-05's k = 2 source. Its k = 1 source would
    // give 1000.0.
    val got = fcRows.map(r => r.getAs[java.sql.Date]("fecha").toString ->
      r.getAs[Double]("valor")).toMap
    assert(got == Map("2025-02-05" -> 1007.0, "2025-02-06" -> 1100.0,
      "2025-02-07" -> 1200.0, "2025-02-08" -> 1300.0,
      "2025-02-09" -> 1400.0, "2025-02-10" -> 1500.0,
      "2025-02-11" -> 1600.0))
    // deposit schedule: every forecast date has a row; totals consistent
    val depRows = dep.collect()
    assert(depRows.length == 7)
    depRows.foreach { r =>
      assert(math.abs(r.getAs[Double]("total") -
        (r.getAs[Double]("efectivo") + r.getAs[Double]("credito") +
          r.getAs[Double]("debito"))) < 1e-9)
    }
    // 2025-02-05 is a Wednesday → cash = Mon+Tue (hist), cards = Tue
    val wed = depRows.find(_.getAs[java.sql.Date]("fecha").toString ==
      "2025-02-05").get
    // Mon 2025-02-03 i=33 → 33%7=5 → 1500; Tue 2025-02-04 i=34 → 1600
    // summed across Kavia + Nativa (×1.5)
    assert(math.abs(wed.getAs[Double]("efectivo") -
      ((1500.0 + 1600.0) * 1.5)) < 1e-9)
    assert(math.abs(wed.getAs[Double]("credito") - (500.0 + 250.0)) < 1e-9)
  }

  test("QA monthly pivots and seeded month-pair sample (A13/U6)") {
    val mart = padMart(martFixture(70, spike = false))
    val (monthly, sales, elim) = Qa.monthlyPivots(mart)
    // Jan 2025 + Feb 2025 + Mar for 2 branches
    assert(monthly.count() == 6)
    assert(sales.columns.toSet == Set("year_month", "Kavia", "Nativa"))
    assert(elim.count() == 3)
    val jan = monthly.filter(monthly("year_month") === "2025-01" &&
      monthly("sucursal") === "Kavia").collect()(0)
    // 31 days × (efectivo + 500 + 300): efectivo = 1000 + 100*(i%7)
    val efJan = (0 until 31).map(i => 1000.0 + 100.0 * (i % 7)).sum
    assert(jan.getAs[Double]("total_sin_propinas") ==
      efJan + 31 * 800.0)
    // seeded sample: deterministic for a fixed seed, n pairs only
    val s1 = Qa.sampleMonthPairs(mart, 2, seed = 7)
    val s2 = Qa.sampleMonthPairs(mart, 2, seed = 7)
    assert(s1.select("sucursal", "year_month").distinct().count() == 2)
    assert(s1.collect().map(_.toString).sorted.toSeq ==
      s2.collect().map(_.toString).sorted.toSeq)
  }

  test("forecast: arima model end-to-end (W8, flatMapGroups per series)") {
    val mart = padMart(martFixture(35, spike = false))
    val (fc, dep) = Forecast.runPaymentsForecast(mart, horizonDays = 7,
      model = "arima")
    import org.apache.spark.sql.functions._
    val rows = fc.collect()
    // 2 branches × 4 metrics × 7 days
    assert(rows.length == 2 * 4 * 7)
    rows.foreach { r =>
      val v = r.getAs[Double]("valor")
      assert(v >= 0.0 && java.lang.Double.isFinite(v))
    }
    // level sanity: efectivo forecasts in the ballpark of the series
    val ef = fc.filter(col("sucursal") === "Kavia" &&
      col("metric") === "ingreso_efectivo")
      .collect().map(_.getAs[Double]("valor"))
    ef.foreach(v => assert(v > 300.0 && v < 5000.0, s"got $v"))
    // every row is ArimaLite on the fixture series, fitted in plain Scala
    val fixture = mart.collect()
    val want = for {
      suc <- Seq("Kavia", "Nativa")
      m <- Forecast.DefaultMetrics
      series = fixture.filter(_.getAs[String]("sucursal") == suc)
        .sortBy(_.getAs[java.sql.Date]("fecha").getTime)
        .map(r => if (m == "ingreso_total")
          PaymentsDaily.BucketCols.map(c => r.getAs[Double](c)).reduce(_ + _)
          else r.getAs[Double](m))
      (v, i) <- ArimaLite.forecastLog1p(series, 7).zipWithIndex
    } yield (suc, LocalDate.parse("2025-02-04").plusDays(i + 1L).toString,
      m, v)
    assert(rows.map(r => (r.getAs[String]("sucursal"),
      r.getAs[java.sql.Date]("fecha").toString, r.getAs[String]("metric"),
      r.getAs[Double]("valor"))).sorted.toSeq == want.sorted)
    assert(dep.count() == 7)
  }

  test("forecast: under-observed series raises (api.py:296-299)") {
    val tiny = padMart(martFixture(5, spike = false))
    val e = intercept[DataQualityError] {
      Forecast.runPaymentsForecast(tiny, horizonDays = 3)
    }
    assert(e.getMessage.contains("observations"))
  }

  test("forecast: rows with a null sucursal stay out of the series") {
    val s = spark
    import s.implicits._
    // a whole branch without a name: enough days to pass the guard
    val mart = padMart(martFixture(35, spike = false)
      .withColumn("sucursal", org.apache.spark.sql.functions.when(
        $"sucursal" === "Kavia", $"sucursal")))
    val (fc, _) = Forecast.runPaymentsForecast(mart, horizonDays = 7)
    val keys = fc.collect().toSeq.map(r => (r.getAs[String]("sucursal"),
      r.getAs[java.sql.Date]("fecha").toString, r.getAs[String]("metric")))
    assert(keys.size == 4 * 7)
    assert(keys.distinct.size == keys.size)
    assert(keys.forall(_._1 == "Kavia"))
  }

  test("deposit schedule: the same bits whatever the mart's row order") {
    val s = spark
    import s.implicits._
    // cent values over many branches: a double sum would depend on the
    // order in which the branches' rows meet
    val base = LocalDate.parse("2025-01-01")
    val rows = for (b <- 0 until 12; i <- 0 until 35) yield {
      val c = (b * 7919 + i * 104729) % 100000
      (s"B$b", base.plusDays(i.toLong).toString, 1000.0 + c / 100.0,
        300.0 + (c % 997) / 100.0, 0.1 + (c % 89) / 100.0, 10L)
    }
    val mart = padMart(rows.toDF("sucursal", "fecha", "ingreso_efectivo",
        "ingreso_credito", "ingreso_debito", "num_tickets")
      .withColumn("fecha", $"fecha".cast("date")))
    val reversed = s.createDataFrame(
      mart.collect().reverse.toSeq.asJava, mart.schema).coalesce(1)
    def schedule(m: DataFrame) =
      Forecast.runPaymentsForecast(m, horizonDays = 7)._2.collect().toSeq
    val a = schedule(mart.repartition(8))
    assert(a.size == 7)
    assert(a == schedule(reversed))
  }

  /** A `branches`-branch mart of 35 days, read back from parquet like
    * the pipeline's own mart. */
  private def branchMart(branches: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val base = LocalDate.parse("2025-01-01")
    val rows = for (b <- 0 until branches; i <- 0 until 35)
      yield (s"B$b", base.plusDays(i.toLong).toString,
        1000.0 + 100.0 * (i % 7) + b, 500.0, 300.0, 50L)
    val dir = java.nio.file.Files.createTempDirectory("pos_mart").toString
    padMart(rows.toDF("sucursal", "fecha", "ingreso_efectivo",
        "ingreso_credito", "ingreso_debito", "num_tickets")
      .withColumn("fecha", $"fecha".cast("date")))
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
  }

  test("forecast + deposit schedule: at most 10 jobs, whatever the " +
    "number of branches") {
    def jobs(branches: Int): Int = {
      val mart = branchMart(branches)
      val ((fc, dep), n) = graft.JobCount(spark, s"forecast-$branches") {
        val out = Forecast.runPaymentsForecast(mart, horizonDays = 7)
        out._1.collect()
        out._2.collect()
        out
      }
      assert(fc.count() == branches * 4 * 7 && dep.count() == 7)
      n
    }
    val one = jobs(1)
    val six = jobs(6)
    assert(one == six, s"1 branch: $one jobs, 6 branches: $six jobs")
    assert(six <= 10, s"$six jobs")
  }

  test("QA level 4: at most 7 jobs, whatever the number of branches") {
    def jobs(branches: Int): Int = {
      val mart = branchMart(branches)
      val (r, n) = graft.JobCount(spark, s"qa-$branches") {
        Qa.runPaymentsQa(mart, level = 4)
      }
      assert(r.summary("missing_days") == 0)
      n
    }
    val one = jobs(1)
    val six = jobs(6)
    assert(one == six, s"1 branch: $one jobs, 6 branches: $six jobs")
    assert(six <= 7, s"$six jobs")
  }
}
