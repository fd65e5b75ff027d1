package graft.pos

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI contracts: the [[Main]] payments-ETL entry point
  * (build_payments_dataset.py parity — flags, printed lines, error
  * strings, incremental re-run) driven over an injected workbook
  * transport, and the [[ForecastMain]] pipeline CLI
  * (forecasting/pipeline.py parity — step banners, Telegram seam,
  * error path) driven off a mart CSV fixture. */
class MainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  // ------------------------------------------------ fixtures

  /** The EndToEndSpec raw report grid as workbook ROWS — title junk,
    * blank, header, 2 payment rows/day (EU + US number formats),
    * footer — SLICED to the requested chunk, the way a real per-chunk
    * POS export only carries its chunk's days (a transport returning
    * out-of-chunk rows duplicates days across chunk workbooks and is
    * correctly killed by the J2 tip-reconciliation abort). */
  private def gridRows(from: LocalDate, to: LocalDate): Seq[Seq[Any]] = {
    val header = Seq("Fecha", "Orden", "Forma de pago", "Propina",
      "Total", "Propina", "Total")
    val base = LocalDate.parse("2025-01-01")
    val dataRows = (0 until 42).flatMap { i =>
      val day = base.plusDays(i.toLong)
      val d = day.toString
      val amount = 100.0 + 10.0 * (i % 7)
      if (day.isBefore(from) || day.isAfter(to)) Seq.empty
      else Seq(
        Seq[Any](d, s"${1000 + i * 2}", "Efectivo", "12.00",
          f"$amount%.2f".replace(".", ","), "7.00", f"$amount%.2f"),
        Seq[Any](d, s"${1001 + i * 2}", "Tarjeta Crédito", "12.00",
          f"$amount%.2f", "5.00", f"${amount / 2}%.2f"))
    }
    Seq(Seq[Any]("Reporte de pagos"), Seq.empty[Any], header) ++
      dataRows :+ Seq[Any]("", "Total general")
  }

  private def workbookBytes(from: LocalDate, to: LocalDate): Array[Byte] =
    graft.sources.Xlsx.writeBytes(
      Seq(("Detalle por forma de pago", gridRows(from, to))))

  private final class Sink {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    def out(s: String): Unit = lines += s
    def err(s: String): Unit = errs += s
    def all: String = (lines ++ errs).mkString("\n")
  }

  // ------------------------------------------------ ETL CLI

  test("Main: cold run downloads via the transport, cleans, " +
    "aggregates, prints the reference's lines; warm run skips all") {
    val root = Files.createTempDirectory("maincli").toString
    var calls = 0
    val transport: Main.Transport = (branch, s0, e0) => {
      calls += 1
      assert(branch == "Kavia")
      assert(s0 == LocalDate.parse("2025-01-01"))
      assert(e0 == LocalDate.parse("2025-02-09"))
      workbookBytes(s0, e0)
    }
    val cfg = Main.Config(start = "2025-01-01", end = "2025-02-09",
      dataRoot = root)
    val stages = Main.defaultStages(spark, root, 180, Seq("Kavia"),
      transport)
    val sink = new Sink
    assert(Main.run(spark, cfg, stages, sink.out, sink.err) == 0,
      sink.all)
    assert(calls == 1)
    assert(sink.lines.head == s"Data root: $root")
    assert(sink.lines.contains("Start date: 2025-01-01"))
    assert(sink.lines.contains("Chunk size: 180 days"))
    assert(sink.lines.exists(
      _.contains("DONE. Aggregated payments dataset: 40 rows")))
    assert(sink.lines.exists(_.startsWith(
      s"Output: $root/proc/payments/aggregated_payments_daily")))
    // the stored mart is real: one row per day, both buckets present
    val mart = spark.read.parquet(
      s"$root/proc/payments/aggregated_payments_daily")
    assert(mart.count() == 40)
    assert(mart.columns.contains("ingreso_efectivo"))

    // warm run: manifests ok -> transport must NOT fire again
    val sink2 = new Sink
    assert(Main.run(spark, cfg, stages, sink2.out, sink2.err) == 0)
    assert(calls == 1, "warm run must serve from storage")
    assert(sink2.lines.exists(
      _.contains("DONE. Aggregated payments dataset: 40 rows")))
  }

  test("Main: chunked planning hands the transport every chunk") {
    val root = Files.createTempDirectory("mainchunk").toString
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(LocalDate, LocalDate)]
    val transport: Main.Transport = (_, s0, e0) => {
      got += ((s0, e0)); workbookBytes(s0, e0)
    }
    val cfg = Main.Config(start = "2025-01-01", end = "2025-02-09",
      dataRoot = root, maxDaysPerChunk = 15)
    val sink = new Sink
    assert(Main.run(spark, cfg,
      Main.defaultStages(spark, root, cfg.maxDaysPerChunk,
        Seq("Kavia"), transport), sink.out, sink.err) == 0, sink.all)
    // 40 days at <=15/chunk -> 3 chunks, contiguous cover
    assert(got.size == 3)
    assert(got.head._1 == LocalDate.parse("2025-01-01"))
    assert(got.last._2 == LocalDate.parse("2025-02-09"))
  }

  test("Main: argparse parity — defaults, =-spelling, rejects") {
    val d = Main.parse(Nil).toOption.get
    assert(d.start == "2022-11-01" && d.dataRoot == "data" &&
      d.maxDaysPerChunk == 180 && !d.verbose)
    val c = Main.parse(Seq("--start=2023-01-01", "--end", "2023-12-31",
      "--data-root", "/x", "--max-days-per-chunk=90", "--verbose"))
      .toOption.get
    assert(c == Main.Config("2023-01-01", "2023-12-31", "/x", 90, true))
    assert(Main.parse(Seq("--nope")).isLeft)
    assert(Main.parse(Seq("--max-days-per-chunk", "abc")).isLeft)
  }

  test("Main: the reference's error strings for bad dates") {
    val sink = new Sink
    val stages = Main.defaultStages(spark, "/nonexistent", 180, Nil,
      (_, _, _) => Array.empty[Byte])
    assert(Main.run(spark,
      Main.Config(start = "2025-02-01", end = "2025-01-01"),
      stages, sink.out, sink.err) == 1)
    assert(sink.errs == Seq("ERROR: start date is after end date."))
    val sink2 = new Sink
    assert(Main.run(spark,
      Main.Config(start = "not-a-date", end = "2025-01-01"),
      stages, sink2.out, sink2.err) == 1)
    assert(sink2.errs.head.startsWith("ERROR: Invalid date format."))
  }

  test("Main: ETL failure surfaces as ERROR + exit 1, not a throw") {
    val root = Files.createTempDirectory("mainfail").toString
    val stages = Main.defaultStages(spark, root, 180, Seq("Kavia"),
      (_, _, _) => throw new ExtractionError("transport down"))
    val sink = new Sink
    assert(Main.run(spark,
      Main.Config(start = "2025-01-01", end = "2025-01-31",
        dataRoot = root), stages, sink.out, sink.err) == 1)
    assert(sink.errs.exists(_.startsWith("ERROR:")))
    assert(sink.errs.exists(_.contains("transport down")))
  }

  test("Main: workbooks that disagree on their columns fail the clean " +
    "stage, naming the workbook, and leave earlier silver untouched") {
    val root = Files.createTempDirectory("mainlayout").toString
    val (start, end) = ("2025-01-01", "2025-02-09")
    val stages = Main.defaultStages(spark, root, 180, Seq("Kavia"),
      (_, s0, e0) => workbookBytes(s0, e0))
    val queries = new PosQueries(spark, root)
    assert(queries.getPayments(stages, start, end).count() == 40)
    val silver = Paths.get(root, "clean/payments/data")
    def snapshot(): Map[String, (Long, Seq[Byte])] = {
      val files = Files.walk(silver)
      try files.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        silver.relativize(p).toString ->
          (Files.getLastModifiedTime(p).toMillis, Files.readAllBytes(p).toSeq)
      }.toMap
      finally files.close()
    }
    val before = snapshot()
    // a second export in the branch directory with one more column
    val rows = gridRows(LocalDate.parse(start), LocalDate.parse(end))
    val wider = rows.take(2) ++ Seq(rows(2) :+ "Total Cobrado") ++
      rows.drop(3).map(_ :+ "1.00")
    Files.write(Paths.get(root, "raw/payments/Kavia/zz_wider.xlsx"),
      graft.sources.Xlsx.writeBytes(Seq(("Detalle por forma de pago", wider))))
    val e = intercept[Exception](
      queries.getPayments(stages, start, end, refresh = true))
    val dq = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).collectFirst { case d: DataQualityError => d }
    assert(dq.exists(_.getMessage.contains("zz_wider.xlsx")), e)
    assert(new StageManifests(s"$root/clean/payments").read(start, end)
      .map(_.status).contains("failed"))
    assert(snapshot() == before)
  }

  test("Main: a backfill starts no process, whatever the number of " +
    "branches") {
    def forks(branches: Int): Seq[graft.ProcessCount.Start] = {
      val root = Files.createTempDirectory(s"mainforks$branches").toString
      val stages = Main.defaultStages(spark, root, 180,
        (1 to branches).map(b => s"Branch$b"),
        (_, s0, e0) => workbookBytes(s0, e0))
      // download, clean, 40-day partitioned silver, mart and read-back
      val (rows, cmds) = graft.ProcessCount {
        new PosQueries(spark, root)
          .getPayments(stages, "2025-01-01", "2025-02-09").count()
      }
      assert(rows == 40L * branches)
      cmds
    }
    // once per JVM, Spark's executor metrics start `getconf PAGESIZE`
    forks(1)
    val (one, six) = (forks(1), forks(6))
    assert(one.isEmpty && six.isEmpty, s"1 branch: ${one.size} " +
      s"processes, 6 branches: ${six.size}, e.g. ${(one ++ six).take(3)}")
  }

  test("Main: a backfill and a refresh run at most 10 jobs each, " +
    "whatever the number of branches and days") {
    def jobs(branches: Int, days: Int): (Int, Int) = {
      val root = Files.createTempDirectory(s"mainjobs$branches").toString
      val stages = Main.defaultStages(spark, root, 180,
        (1 to branches).map(b => s"Branch$b"),
        (_, s0, e0) => workbookBytes(s0, e0))
      val start = "2025-01-01"
      val end = LocalDate.parse(start).plusDays(days - 1L).toString
      val q = new PosQueries(spark, root)
      def call(refresh: Boolean) = {
        val (rows, n) = graft.JobCount(spark, s"cascade-$branches-$days") {
          q.getPayments(stages, start, end, refresh).collect()
        }
        assert(rows.length == branches * days)
        n
      }
      (call(refresh = false), call(refresh = true))
    }
    val counts = Seq((1, 7), (6, 7), (1, 42), (6, 42))
      .map(bd => bd -> jobs(bd._1, bd._2)).toMap
    val shown = counts.map { case ((b, d), (bf, rf)) =>
      s"$b branches x $d days: backfill $bf, refresh $rf" }.mkString("; ")
    info(shown)
    assert(counts.values.toSet.size == 1, shown)
    assert(counts.values.forall { case (bf, rf) => bf <= 10 && rf <= 10 },
      shown)
  }

  test("Metrics: a backfill's snapshot has every job and stage as soon " +
    "as the action returns") {
    val root = Files.createTempDirectory("mainmetrics").toString
    val stages = Main.defaultStages(spark, root, 180, Seq("Branch1"),
      (_, s0, e0) => workbookBytes(s0, e0))
    val sc = spark.sparkContext
    val metrics = new graft.Metrics
    sc.addSparkListener(metrics)
    try {
      metrics.reset(sc)
      var group = ""
      val (_, jobs) = graft.JobCount(spark, "metrics-backfill") {
        group = sc.getLocalProperty("spark.jobGroup.id")
        new PosQueries(spark, root)
          .getPayments(stages, "2025-01-01", "2025-01-07").collect()
      }
      val m = metrics.snapshot(sc)
      assert(m.jobs == jobs && jobs > 0, m)
      // the status store saw the same stages run the same tasks
      val tracker = sc.statusTracker
      val ran = tracker.getJobIdsForGroup(group).toSeq
        .flatMap(tracker.getJobInfo).flatMap(_.stageIds).distinct
        .flatMap(tracker.getStageInfo)
      assert(m.stages.nonEmpty && m.tasks == ran.map(_.numCompletedTasks).sum,
        s"$m\n${ran.map(s => s"${s.stageId}: ${s.numCompletedTasks}")}")
    } finally sc.removeSparkListener(metrics)
  }

  // ------------------------------------------------ forecast CLI

  /** 40-day mart CSV fixture (the aggregated_payments_daily shape). */
  private def martCsv(dir: String): String = {
    val s = spark
    import s.implicits._
    val base = LocalDate.parse("2025-01-01")
    val mart = (0 until 40).map { i =>
      val amount = 100.0 + 10.0 * (i % 7)
      ("Kavia", base.plusDays(i.toLong).toString, amount, amount / 2,
        0.0, 2L, 12.0)
    }.toDF("sucursal", "fecha", "ingreso_efectivo", "ingreso_credito",
      "ingreso_debito", "num_tickets", "propinas")
    val f = s"$dir/aggregated_payments_daily.csv"
    EdgeIO.writeCsvWithBom(mart, f)
    f
  }

  test("ForecastMain: full pipeline over a mart CSV, no Telegram") {
    val dir = Files.createTempDirectory("fcast").toString
    val csv = martCsv(dir)
    val sink = new Sink
    val code = ForecastMain.run(spark,
      ForecastMain.Config(file = Some(csv), horizon = 7), sink.out)
    assert(code == 0)
    val text = sink.all
    assert(sink.lines.take(3) == Seq("=" * 60,
      "Payments Forecasting Pipeline", "=" * 60))
    assert(text.contains(s"  Reading from: $csv"))
    assert(text.contains("[OK] Loaded 40 rows"))
    assert(text.contains("[2/3] Generating 7-day forecasts..."))
    assert(text.contains("[OK] Generated forecasts for 1 branches"))
    assert(text.contains("Forecast Results:"))
    // the console body is the real Formatters rendering
    assert(text.contains("Kavia:"))
    assert(text.contains("Efectivo:"))
    assert(text.contains("Telegram message length: "))
    assert(text.contains("[INFO] Telegram support not available " +
      "(utils.telegram_notifier not found)"))
    assert(text.contains("[OK] Pipeline completed successfully"))
  }

  test("ForecastMain: injected Telegram sender receives the HTML " +
    "message; failures print the reference's line") {
    val dir = Files.createTempDirectory("fcast2").toString
    val csv = martCsv(dir)
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = new Sink
    assert(ForecastMain.run(spark,
      ForecastMain.Config(file = Some(csv)), sink.out,
      telegram = Some { m => sent += m; true }) == 0)
    assert(sent.size == 1)
    assert(sent.head.contains("<b>Forecast de Pagos"))
    assert(sink.all.contains("[OK] Message sent to Telegram"))

    val sink2 = new Sink
    assert(ForecastMain.run(spark,
      ForecastMain.Config(file = Some(csv)), sink2.out,
      telegram = Some(_ => false)) == 0)
    assert(sink2.all.contains("[ERROR] Failed to send message to Telegram"))
  }

  test("ForecastMain: missing file -> pipeline error path + " +
    "best-effort error notification") {
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = new Sink
    val code = ForecastMain.run(spark,
      ForecastMain.Config(file = Some("/no/such/file.csv")), sink.out,
      telegram = Some { m => sent += m; true })
    assert(code == 1)
    assert(sink.all.contains(
      "[ERROR] Pipeline failed: Payments data file not found: " +
        "/no/such/file.csv"))
    assert(sent.size == 1)
    assert(sent.head.startsWith("[ERROR] <b>Forecast Pipeline Error</b>"))
  }

  test("CLI handoff: ForecastMain's default path reads the parquet " +
    "mart Main's ETL just wrote") {
    val root = Files.createTempDirectory("handoff").toString
    val transport: Main.Transport = (_, s0, e0) => workbookBytes(s0, e0)
    val etl = new Sink
    assert(Main.run(spark,
      Main.Config(start = "2025-01-01", end = "2025-02-09",
        dataRoot = root),
      Main.defaultStages(spark, root, 180, Seq("Kavia"), transport),
      etl.out, etl.err) == 0, etl.all)
    val fc = new Sink
    assert(ForecastMain.run(spark,
      ForecastMain.Config(dataRoot = root), fc.out) == 0, fc.all)
    assert(fc.all.contains("Using default path from config"))
    assert(fc.all.contains("[OK] Loaded 40 rows"))
    assert(fc.all.contains("[OK] Generated forecasts for 1 branches"))
    assert(fc.all.contains("[OK] Pipeline completed successfully"))
  }

  test("ForecastMain: argparse parity") {
    val d = ForecastMain.parse(Nil).toOption.get
    assert(d == ForecastMain.Config(None, 7, false))
    val c = ForecastMain.parse(
      Seq("--file", "/x.csv", "--horizon=14", "-v")).toOption.get
    assert(c == ForecastMain.Config(Some("/x.csv"), 14, true))
    assert(ForecastMain.parse(Seq("--horizon", "x")).isLeft)
    assert(ForecastMain.parse(Seq("positional")).isLeft)
  }

  test("Branches: sucursales.json loader (branch_config.py shape)") {
    val f = Files.createTempFile("suc", ".json")
    Files.writeString(f, """{
      "Kavia": {"code": "8777", "valid_from": "2024-02-21",
                "valid_to": null},
      "Kavia_OLD": {"code": 6161, "valid_from": "2022-11-01",
                    "valid_to": "2024-02-20"},
      "CEDIS": {"code": "5392", "valid_from": "2022-01-01"}
    }""")
    val reg = Branches.loadSucursalesJson(f)
    // CEDIS excluded; Kavia_OLD folds into logical Kavia
    assert(reg.logicalNames == Seq("Kavia"))
    assert(reg.codeFor("Kavia", LocalDate.parse("2023-06-01"))
      .contains("6161"))
    assert(reg.codeFor("Kavia", LocalDate.parse("2024-06-01"))
      .contains("8777"))
    assert(reg.codeFor("Kavia", LocalDate.parse("2022-01-01")).isEmpty)
  }
}
