package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable

import graft.pos.{Forecast, Main => PosMain, PosQueries, Qa}
import graft.sources.Xlsx
import org.apache.spark.sql.Row

/** The reference product path for payments: Wansoft-shaped bronze
  * workbooks (detail sheet with blank, title and footer rows, EU and US
  * number formats, an eliminations sheet) → the [[PosQueries]] cascade
  * (ingest → xlsx staging → partitioned silver → daily mart) → QA →
  * naive forecast with its deposit schedule, as a backfill followed by
  * a one-day refresh and a read served from storage. Every output is checked
  * against ground truth the generator computes itself. */
final class PosNightly(scale: String) extends Workload {
  import PosNightly._
  val name = "pos_nightly"

  private val (nBranches, nDays, ticketsPerDay, chunkDays) = scale match {
    case "tiny" => (1, 35, 6, 35)
    case _ => (1, 42, 60, 42)
  }
  private val start = LocalDate.parse("2025-01-06")
  private val end = start.plusDays(nDays - 1L)
  private val refreshDay = end.plusDays(1)
  private val branches = BranchNames.take(nBranches)

  private var gen: Gen = _
  private var bronze: Path = _
  private var rootDir: Path = _
  private val backfillWall = mutable.ArrayBuffer.empty[Double]
  private val refreshWall = mutable.ArrayBuffer.empty[Double]
  private var workbooksRead, bytesRead, workbooksCleaned = 0L
  private var stagesRun, stagesSkipped = 0L
  private var martRows, qaIssues, forecastSeries = 0L

  def unitsPerPass: Long = gen.tickets.size.toLong

  def inputSizes: Map[String, Double] = Map(
    "branches" -> nBranches.toDouble, "days" -> (nDays + 1).toDouble,
    "tickets" -> gen.tickets.size.toDouble,
    "payment_rows" -> gen.tickets.map(_.pays.size).sum.toDouble,
    "workbooks" -> Files2.countXlsx(bronze).toDouble,
    "bronze_bytes" -> Files2.treeBytes(bronze).toDouble)

  // ------------------------------------------------------------ inputs

  def prepare(work: Path, seed: Long): Unit = {
    gen = new Gen(seed, branches, start, refreshDay, ticketsPerDay)
    bronze = work.resolve(s"pos-$scale-$seed")
    rootDir = work.resolve(s"pos-root-$seed")
    if (Files.exists(bronze.resolve("_complete"))) return
    Files2.deleteTree(bronze)
    for (b <- branches; (s, e) <- chunks)
      put(bronze.resolve(s"payments/$b/${s}_$e.xlsx"), paymentsBook(b, s, e))
    Files.writeString(bronze.resolve("sucursales.json"), branches.map { b =>
      s"""  "$b": {"code": "${BranchNames.indexOf(b) + 1}", """ +
        s""""valid_from": "2020-01-01", "valid_to": null}"""
    }.mkString("{\n", ",\n", "\n}\n"))
    Files.writeString(bronze.resolve("_complete"), "")
  }

  /** The backfill's export chunks plus the refresh day. */
  private def chunks: Seq[(LocalDate, LocalDate)] =
    graft.pos.ingest.Extraction.planDownloads(start, end, Nil, chunkDays) :+
      ((refreshDay, refreshDay))

  private def put(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  private def inRange(d: LocalDate, s: LocalDate, e: LocalDate) =
    !d.isBefore(s) && !d.isAfter(e)

  private def paymentsBook(b: String, s: LocalDate, e: LocalDate)
      : Array[Byte] = {
    val ts = gen.tickets.filter(t => t.branch == b && inRange(t.day, s, e))
    val header = Seq("Fecha", "Orden", "Forma de pago", "Propina", "Total",
      "Propina", "Total")
    val rows = ts.groupBy(_.day).toSeq.sortBy(_._1.toEpochDay).flatMap {
      case (day, dayTs) =>
        val pays = dayTs.flatMap(t => t.pays.map(p => (t, p)))
        val dayTips = pays.map(_._2.tip).sum
        val dayTotal = pays.map(_._2.cents).sum
        pays.map { case (t, p) =>
          Seq[Any](day.toString, t.orden.toString, p.method, money(dayTips),
            eu(dayTotal), if (p.euTip) eu(p.tip) else money(p.tip),
            money(p.cents))
        }
    }
    val elim = ts.filter(_.eliminated).map(t => Seq[Any]("", t.day.toString,
      t.orden.toString, t.pays.head.method, money(t.pays.head.cents)))
    Xlsx.writeBytes(Seq(
      "Detalle por forma de pago" -> (Seq(Seq[Any](s"Reporte de pagos $b"),
        Seq.empty[Any], header) ++ rows :+ Seq[Any]("", "Total general")),
      "Pagos Eliminados" -> (Seq(Seq[Any]("Pagos eliminados"), Seq.empty[Any],
        Seq[Any]("", "Fecha de operación", "Orden", "Forma de pago",
          "Total")) ++ elim)))
  }

  // ------------------------------------------------------------ pass

  def pass(ctx: Ctx): Unit = {
    if (ctx.timing && backfillWall.isEmpty) { // layer counts: timed passes only
      workbooksRead = 0; bytesRead = 0; workbooksCleaned = 0
      stagesRun = 0; stagesSkipped = 0
      martRows = 0; qaIssues = 0; forecastSeries = 0
    }
    Files2.deleteTree(rootDir)
    val root = rootDir.toString
    val spark = ctx.spark
    val queries = new PosQueries(spark, root)
    val transport: PosMain.Transport = (b, s, e) => {
      val bytes = Files.readAllBytes(
        bronze.resolve(s"payments/$b/${s}_$e.xlsx"))
      workbooksRead += 1
      bytesRead += bytes.length
      bytes
    }
    val registry = graft.pos.Branches.loadSucursalesJson(
      bronze.resolve("sucursales.json"))
    val base = PosMain.defaultStages(spark, root, chunkDays,
      registry.logicalNames, transport)
    var ran = 0
    val stages = PosQueries.EtlStages(
      download = (s, e) => { ran += 1
        ctx.step("ingest", "ingest")(base.download(s, e)) },
      clean = (s, e) => { ran += 1
        workbooksCleaned += Files2.countXlsx(rootDir.resolve("raw/payments"))
        ctx.step("staging.payments", "staging")(base.clean(s, e)) },
      aggregate = (s, e) => { ran += 1
        ctx.step("marts.payments_daily", "marts")(base.aggregate(s, e)) })
    /** One call of the payments cascade; with `check`, the mart it
      * returns is compared with the generator's truth. */
    def cascade(opName: String, to: LocalDate, refresh: Boolean,
                check: Boolean): Unit = {
      ran = 0
      ctx.op(opName, "meta") {
        val rows = queries.getPayments(stages, start.toString, to.toString,
          refresh).collect()
        martRows += rows.length
        if (check) checkMart(ctx, if (ctx.corrupt) rows.drop(1) else rows, to)
      }
      stagesRun += ran
      stagesSkipped += 3 - ran
    }

    val t0 = System.nanoTime()
    cascade("payments_backfill", end, refresh = false, check = true)
    val martDf = spark.read.parquet(
      s"$root/proc/payments/aggregated_payments_daily")
    ctx.op("qa", "qa") {
      val qa = Qa.runPaymentsQa(martDf, level = 4)
      qaIssues += qa.summary.values.sum
      val want = gen.expectedQa(end)
      ctx.check(qa.summary == want, s"QA summary ${qa.summary} != $want")
    }
    ctx.op("forecast_naive", "forecast") {
      val (fc, dep) = ctx.step("forecast.naive", "forecast.naive")(
        Forecast.runPaymentsForecast(martDf, 7, model = "naive"))
      val rows = fc.collect()
      ctx.step("forecast.deposit", "forecast.deposit")(dep.collect())
      forecastSeries += rows.map(r => (r.getAs[String]("sucursal"),
        r.getAs[String]("metric"))).distinct.length
      checkNaive(ctx, rows, end)
    }
    val t1 = System.nanoTime()
    cascade("payments_refresh", refreshDay, refresh = true, check = true)
    // a reader after the nightly run: every stage is served from storage
    cascade("payments_served", refreshDay, refresh = false, check = false)
    val t2 = System.nanoTime()
    if (ctx.timing) {
      backfillWall += (t1 - t0) / 1e9
      refreshWall += (t2 - t1) / 1e9
    }
  }

  private def checkMart(ctx: Ctx, rows: Array[Row], to: LocalDate): Unit = {
    val want = gen.dayTruth(to)
    ctx.check(rows.length == want.size,
      s"mart rows ${rows.length} != ${want.size}")
    for (r <- rows) {
      val key = (r.getAs[String]("sucursal"),
        r.getAs[java.sql.Date]("fecha").toLocalDate)
      val w = want.getOrElse(key, throw new CheckFailed(s"unexpected $key"))
      def cents(c: String) = math.round(r.getAs[Double](c) * 100)
      val got = DayTruth(cents("ingreso_efectivo"), cents("ingreso_credito"),
        cents("ingreso_debito"), cents("propinas"),
        r.getAs[Long]("num_tickets"), r.getAs[Long]("tickets_with_eliminations"))
      ctx.check(got == w, s"mart $key: $got != $w")
    }
  }

  private def checkNaive(ctx: Ctx, rows: Array[Row], to: LocalDate): Unit = {
    val truth = gen.dayTruth(to)
    val want = for (b <- branches; m <- Forecast.DefaultMetrics;
                    step <- 1 to 7) yield {
      val last = truth.keys.filter(_._1 == b).map(_._2).maxBy(_.toEpochDay)
      val d = last.plusDays(step.toLong)
      val v = truth.get((b, d.minusDays(7))).map(_.metric(m)).getOrElse(0L)
      (b, d, m) -> v
    }
    val got = rows.map(r => (r.getAs[String]("sucursal"),
      r.getAs[java.sql.Date]("fecha").toLocalDate, r.getAs[String]("metric")) ->
      math.round(r.getAs[Double]("valor") * 100)).toMap
    ctx.check(got == want.toMap, s"naive forecast differs from lag-7 truth")
  }

  override def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = {
    val self = ctx.trace.selfSecondsByLayer
    val byName = ctx.trace.spans.toArray(Array.empty[Span])
      .groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds).sum }
    def per(name: String) = byName.getOrElse(name, 0.0) / passes
    val n = backfillWall.size.max(1).toDouble
    // the last pass's refresh staged every bronze workbook: rows offered
    // (data plus title, blank, header and footer rows) against the rows
    // in the silver store it left behind
    val rowsIn = gen.tickets.map(_.pays.size).sum +
      4 * Files2.countXlsx(bronze.resolve("payments"))
    val rowsOut = ctx.spark.read.parquet(
      rootDir.resolve("clean/payments/data").toString).count()
    Map(
      "pos.backfill_s" -> Main.median(backfillWall.toSeq),
      "pos.refresh_s" -> Main.median(refreshWall.toSeq),
      "ingest.s" -> per("ingest"),
      "ingest.workbooks" -> workbooksRead / n,
      "ingest.bytes" -> bytesRead / n,
      "staging.s" -> self.getOrElse("staging", 0.0) / passes,
      "staging.workbooks" -> workbooksCleaned / n,
      "staging.rows_in" -> rowsIn.toDouble,
      "staging.rows_out" -> rowsOut.toDouble,
      "staging.keep_frac" -> rowsOut.toDouble / rowsIn,
      "marts.payments_daily_s" -> per("marts.payments_daily"),
      "marts.rows_out" -> martRows / n,
      "meta.s" -> self.getOrElse("meta", 0.0) / passes,
      "meta.stages_run" -> stagesRun / n,
      "meta.stages_skipped" -> stagesSkipped / n,
      "qa.s" -> self.getOrElse("qa", 0.0) / passes,
      "qa.issues" -> qaIssues / n,
      "forecast.naive_s" -> per("forecast.naive"),
      "forecast.deposit_s" -> per("forecast.deposit"),
      "forecast.series" -> forecastSeries / n)
  }
}

object PosNightly {
  val BranchNames = Seq("Kavia", "Nativa", "Carreta", "Qin", "Valle",
    "Zambrano")
  val Methods = Seq("Efectivo", "Tarjeta Crédito", "Tarjeta Débito")

  def money(cents: Long): String =
    (if (cents < 0) "-" else "") + s"${math.abs(cents) / 100}." +
      f"${math.abs(cents) % 100}%02d"
  /** European rendering: decimal comma, no grouping. */
  def eu(cents: Long): String = money(cents).replace('.', ',')

  final case class Pay(method: String, cents: Long, tip: Long, euTip: Boolean)
  final case class Ticket(branch: String, day: LocalDate, orden: Long,
                          pays: Seq[Pay], eliminated: Boolean)
  final case class DayTruth(efectivo: Long, credito: Long, debito: Long,
                            tips: Long, tickets: Long, elim: Long) {
    def metric(m: String): Long = m match {
      case "ingreso_total" => efectivo + credito + debito
      case "ingreso_efectivo" => efectivo
      case "ingreso_credito" => credito
      case "ingreso_debito" => debito
    }
  }

  /** Seeded bronze model with three planted QA faults: one missing day
    * (branch 0), one cash-only day (branch 1) and one revenue spike
    * (branch 2), all well inside each branch's range. */
  final class Gen(seed: Long, branches: Seq[String], start: LocalDate,
                  last: LocalDate, perDay: Int) {
    private val rnd = new scala.util.Random(seed)
    private val nDays = (last.toEpochDay - start.toEpochDay + 1).toInt
    private val mid = nDays / 2
    private val missing = (branches.head, start.plusDays(mid.toLong))
    private val cashOnly =
      (branches(1 % branches.size), start.plusDays(mid + 3L))
    private val spike = (branches(2 % branches.size), start.plusDays(mid + 6L))

    val tickets: Seq[Ticket] = {
      val out = mutable.ArrayBuffer.empty[Ticket]
      for ((b, bi) <- branches.zipWithIndex; di <- 0 until nDays) {
        val day = start.plusDays(di.toLong)
        if ((b, day) != missing) {
          val n = perDay + rnd.nextInt(perDay / 3 + 1)
          for (k <- 0 until n) {
            val orden = (bi + 1) * 1000000L + di * 1000L + k
            val amount = 5000L + rnd.nextInt(45000)
            val tip = rnd.nextInt((amount / 10).toInt + 1).toLong
            val m = if ((b, day) == cashOnly) 0 else rnd.nextInt(3)
            val big = if ((b, day) == spike && k == 0) 400L else 1L
            val pays =
              if (m != 0 && big == 1L && rnd.nextDouble() < 0.1) {
                val a1 = amount / 3
                val t1 = tip / 2
                Seq(Pay(Methods(m), a1, t1, rnd.nextDouble() < 0.3),
                  Pay(Methods(0), amount - a1, tip - t1, false))
              } else Seq(Pay(Methods(m), amount * big, tip,
                rnd.nextDouble() < 0.3))
            out += Ticket(b, day, orden, pays, rnd.nextDouble() < 0.03)
          }
        }
      }
      out.toSeq
    }

    def dayTruth(to: LocalDate): Map[(String, LocalDate), DayTruth] =
      tickets.filter(!_.day.isAfter(to)).groupBy(t => (t.branch, t.day))
        .map { case (k, ts) =>
          val ps = ts.flatMap(_.pays)
          def sum(m: Int) = ps.filter(_.method == Methods(m)).map(_.cents).sum
          k -> DayTruth(sum(0), sum(1), sum(2), ps.map(_.tip).sum,
            ts.size.toLong, ts.count(_.eliminated).toLong)
        }

    /** The level-4 QA summary the engine must report: the planted
      * faults, and the rolling z-score flags recomputed here. */
    def expectedQa(to: LocalDate): Map[String, Long] = {
      val truth = dayTruth(to)
      val zero = truth.values.count(t => t.tickets > 0 && t.credito == 0 &&
        t.debito == 0).toLong
      var z = 0L
      for (b <- branches) {
        val days = truth.filter(_._1._1 == b).toSeq.sortBy(_._1._2.toEpochDay)
          .map(_._2)
        val cols = Seq[DayTruth => Long](_.efectivo, _.credito, _.debito,
          _.tips).map(f => (t: DayTruth) => f(t) / 100.0)
        for (c <- cols; i <- days.indices) {
          val w = days.slice(math.max(0, i - 59), i + 1).map(c)
          if (w.size > 1) {
            val mu = w.sum / w.size
            val sd = math.sqrt(w.map(v => (v - mu) * (v - mu)).sum /
              (w.size - 1))
            if (sd > 0 && math.abs((c(days(i)) - mu) / sd) >= 4.0) z += 1
          }
        }
      }
      Map("null_key_rows" -> 0L, "negative_rows" -> 0L,
        "tickets_no_revenue" -> 0L, "revenue_no_tickets" -> 0L,
        "zero_method_days" -> zero, "missing_days" -> 1L,
        "duplicate_days" -> 0L, "zscore_anomalies" -> z)
    }
  }
}
