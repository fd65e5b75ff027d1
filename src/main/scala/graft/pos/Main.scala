package graft.pos

import java.time.LocalDate
import java.time.format.DateTimeParseException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** CLI entry point for the payments ETL pipeline, mirroring
  * `/root/reference/src/pos_core/etl/build_payments_dataset.py:58-135`
  * flag-for-flag (`--start/--end/--data-root/--max-days-per-chunk/
  * --verbose`, the same defaults, the same printed lines and error
  * strings). The ETL itself is the [[PosQueries]] stage cascade; this
  * module only parses flags, wires the default stage workers over the
  * data-root layout, and reports.
  *
  * The stage workers ([[Main.defaultStages]]) are the real library
  * stages closed over `{root}/raw|clean|proc/payments`:
  *  - download: incremental chunk planning
  *    ([[ingest.Extraction.planDownloads]] over covered-interval
  *    manifests, S5) feeding an injected per-(branch, chunk) workbook
  *    transport — the live POS socket stays behind that seam exactly
  *    as in S1–S3 (sandbox constraint; `main` wires a transport that
  *    raises the reference's extraction error).
  *  - clean: ONE xlsx staging scan over all branch directories
  *    ([[staging.PaymentsXlsx.cleanBranches]]: header, eliminations and
  *    sucursal — the directory's name — resolved per workbook in the
  *    executor parse) → parquet fact store partitioned by
  *    operating_date (S11 pruning on later reads).
  *  - aggregate: partition-pruned fact slice, schema from a footer
  *    ([[graft.sources.ParquetFooter]]) → [[PaymentsDaily]] mart.
  *
  * `run` is side-effect-parameterized (out/err sinks, injected
  * stages) so MainSpec can drive the full CLI on fixtures; `main` is
  * the thin process wrapper (argv, exit code), like the reference's
  * `if __name__ == "__main__"` block.
  */
object Main {

  /** Parsed flags (build_payments_dataset.py:58-88 defaults). */
  final case class Config(start: String = "2022-11-01",
                          end: String = LocalDate.now().toString,
                          dataRoot: String = "data",
                          maxDaysPerChunk: Int = 180,
                          verbose: Boolean = false)

  /** argparse twin: `--flag value` and `--flag=value` spellings,
    * unknown flags rejected with the argparse-style message. */
  def parse(args: Seq[String],
            defaults: Config = Config()): Either[String, Config] = {
    def loop(rest: List[String], c: Config): Either[String, Config] =
      rest match {
        case Nil => Right(c)
        case "--verbose" :: t => loop(t, c.copy(verbose = true))
        case a :: t if a.startsWith("--") && a.contains("=") =>
          val Array(k, v) = a.split("=", 2)
          loop(k :: v :: t, c)
        case "--start" :: v :: t => loop(t, c.copy(start = v))
        case "--end" :: v :: t => loop(t, c.copy(end = v))
        case "--data-root" :: v :: t => loop(t, c.copy(dataRoot = v))
        case "--max-days-per-chunk" :: v :: t =>
          try loop(t, c.copy(maxDaysPerChunk = v.toInt))
          catch { case _: NumberFormatException =>
            Left(s"argument --max-days-per-chunk: invalid int value: '$v'")
          }
        case a :: _ => Left(s"unrecognized arguments: $a")
      }
    loop(args.toList, defaults)
  }

  /** Workbook bytes for (branch, chunkStart, chunkEnd) — the live-POS
    * seam. Everything above the socket (login, CSRF, warm-up, export
    * decode) lives in [[ingest.Login]]/[[ingest.Extraction]]; a real
    * deployment closes this over a [[ingest.PosSession]]. */
  type Transport = (String, LocalDate, LocalDate) => Array[Byte]

  /** The default stage workers over `{root}/{raw,clean,proc}/payments`
    * (see object doc). `branches` defaults to the registry's logical
    * names at ETL time; tests pass their fixture branch. */
  def defaultStages(spark: SparkSession, root: String, chunkDays: Int,
                    branches: Seq[String],
                    transport: Transport): PosQueries.EtlStages = {
    val rawDir = s"$root/raw/payments"
    PosQueries.EtlStages(
      download = (start, end) => {
        val man = new StageManifests(rawDir)
        val chunks = ingest.Extraction.planDownloads(
          LocalDate.parse(start), LocalDate.parse(end),
          man.coveredIntervals("raw_v1"), chunkDays)
        for (b <- branches; (s0, e0) <- chunks) {
          val bytes = transport(b, s0, e0)
          val path = java.nio.file.Paths.get(
            rawDir, b, s"pagos_${s0}_$e0.xlsx")
          java.nio.file.Files.createDirectories(path.getParent)
          java.nio.file.Files.write(path, bytes)
        }
      },
      clean = (start, end) => {
        // every branch is a subdirectory; _meta is the manifest store
        val dirs = Option(new java.io.File(rawDir).listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(f => f.isDirectory && f.getName != "_meta")
          .sortBy(_.getName)
        if (dirs.isEmpty)
          throw new ExtractionError(
            s"no raw payments exports under $rawDir")
        staging.PaymentsXlsx.cleanBranches(spark, dirs.map(_.toString).toSeq,
          Some(start), Some(end)).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("operating_date")
          .parquet(s"$root/clean/payments/data")
      },
      aggregate = (start, end) => {
        val slice = graft.sources.ParquetFooter.read(spark,
            s"$root/clean/payments/data", "operating_date" -> DateType)
          .filter(col("operating_date").between(
            lit(start).cast("date"), lit(end).cast("date")))
        PaymentsDaily.aggregate(slice)
      })
  }

  /** Full CLI body (build_payments_dataset.py:96-135): validate,
    * print the config block, run the cascade, report rows + output
    * path; exit code as return. */
  def run(spark: SparkSession, cfg: Config,
          stages: PosQueries.EtlStages,
          out: String => Unit, err: String => Unit): Int = {
    val parsed =
      try (LocalDate.parse(cfg.start), LocalDate.parse(cfg.end))
      catch {
        case e: DateTimeParseException =>
          err(s"ERROR: Invalid date format. ${e.getMessage}")
          return 1
      }
    if (parsed._1.isAfter(parsed._2)) {
      err("ERROR: start date is after end date.")
      return 1
    }
    out(s"Data root: ${cfg.dataRoot}")
    out(s"Start date: ${cfg.start}")
    out(s"End date: ${cfg.end}")
    out(s"Chunk size: ${cfg.maxDaysPerChunk} days")
    out("")
    try {
      val df = new PosQueries(spark, cfg.dataRoot)
        .getPayments(stages, cfg.start, cfg.end)
      val n = df.count()
      out(s"\nDONE. Aggregated payments dataset: $n rows")
      out(s"Output: ${cfg.dataRoot}/proc/payments/aggregated_payments_daily")
      0
    } catch {
      case e: Exception =>
        err(s"ERROR: ${e.getMessage}")
        1
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toIndexedSeq) match {
      case Right(c) => c
      case Left(m) => System.err.println(s"ERROR: $m"); sys.exit(2)
    }
    val spark = graft.Sessions.checked(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel(if (cfg.verbose) "INFO" else "WARN")
    val noTransport: Transport = (_, _, _) =>
      throw new ExtractionError(
        "live POS transport is not configured in this environment; " +
          "stage raw exports under <data-root>/raw/payments/<branch>/ " +
          "or inject a Transport")
    // branch list: sucursales.json in the data root (the reference's
    // config file, branch_config.py:37-95), else the already-staged
    // raw branch directories (offline mode — download is then a
    // covered-interval no-op when manifests are ok)
    val sucursales =
      java.nio.file.Paths.get(cfg.dataRoot, "sucursales.json")
    val branches =
      if (java.nio.file.Files.exists(sucursales))
        Branches.loadSucursalesJson(sucursales).logicalNames
      else Option(
          new java.io.File(s"${cfg.dataRoot}/raw/payments").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName != "_meta")
        .map(_.getName).toSeq.sorted
    val code = run(spark, cfg,
      defaultStages(spark, cfg.dataRoot, cfg.maxDaysPerChunk,
        branches, noTransport),
      println, System.err.println)
    spark.stop()
    sys.exit(code)
  }
}

/** CLI wrapper for the payments forecasting pipeline, mirroring
  * `/root/reference/src/pos_core/forecasting/pipeline.py:36-140`
  * step-for-step: banner, `[1/3]` load (explicit `--file` or the
  * default mart path), `[2/3]` [[Forecast.runPaymentsForecast]] at
  * `--horizon` days, `[3/3]` console + Telegram-HTML rendering via
  * [[Formatters]], then the optional best-effort Telegram send.
  * The send stays behind an injected `telegram` function because the
  * reference's own notifier is an OPTIONAL import that is absent
  * from its repo (pipeline.py:22-27, `TELEGRAM_AVAILABLE = False`) —
  * `None` here IS the reference's shipped behavior, and the error
  * path mirrors its best-effort notification (pipeline.py:125-137).
  */
object ForecastMain {

  /** `--data-root` is the one flag beyond pipeline.py's surface: the
    * reference's default path comes from its config module
    * (`loaders.load_payments_data`), and our mart store lives under
    * the ETL data root — this flag IS that config knob. */
  final case class Config(file: Option[String] = None,
                          horizon: Int = 7,
                          verbose: Boolean = false,
                          dataRoot: String = "data")

  def parse(args: Seq[String]): Either[String, Config] = {
    def loop(rest: List[String], c: Config): Either[String, Config] =
      rest match {
        case Nil => Right(c)
        case ("--verbose" | "-v") :: t => loop(t, c.copy(verbose = true))
        case a :: t if a.startsWith("--") && a.contains("=") =>
          val Array(k, v) = a.split("=", 2)
          loop(k :: v :: t, c)
        case "--file" :: v :: t => loop(t, c.copy(file = Some(v)))
        case "--data-root" :: v :: t => loop(t, c.copy(dataRoot = v))
        case "--horizon" :: v :: t =>
          try loop(t, c.copy(horizon = v.toInt))
          catch { case _: NumberFormatException =>
            Left(s"argument --horizon: invalid int value: '$v'")
          }
        case a :: _ => Left(s"unrecognized arguments: $a")
      }
    loop(args.toList, Config())
  }

  /** `load_payments_data` twin: header CSV → typed frame (`fecha` to
    * date like the pipeline's `pd.to_datetime`, every measure column
    * to double — CSV lands as strings). */
  def loadPaymentsCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = EdgeIO.readCleanCsvs(spark, path)
    raw.columns.filterNot(Set("sucursal", "fecha").contains)
      .foldLeft(raw.withColumn("fecha", col("fecha").cast("date"))) {
        (d, c) => d.withColumn(c, col(c).cast("double"))
      }
  }

  /** Full CLI body (pipeline.py:36-140); returns the exit code. The
    * catch branch mirrors the reference: print `[ERROR]`, best-effort
    * Telegram error notification, nonzero exit (it re-raises). */
  def run(spark: SparkSession, cfg: Config, out: String => Unit,
          telegram: Option[String => Boolean] = None,
          loader: String => DataFrame = null): Int = {
    val load = Option(loader).getOrElse(loadPaymentsCsv(spark, _))
    out("=" * 60)
    out("Payments Forecasting Pipeline")
    out("=" * 60)
    try {
      out("\n[1/3] Loading payments data...")
      val payments = cfg.file match {
        case Some(p) =>
          out(s"  Reading from: $p")
          if (!new java.io.File(p).exists())
            throw new EtlError(s"Payments data file not found: $p")
          load(p)
        case None =>
          // the default path is the PARQUET mart store [[Main]]'s ETL
          // writes and prints as its Output line — the two CLIs'
          // handoff (--file stays the explicit-CSV escape hatch, the
          // reference's `pd.read_csv` branch); round-7 review finding:
          // this branch previously read the parquet store as CSV
          out("  Using default path from config")
          val p = s"${cfg.dataRoot}/proc/payments/aggregated_payments_daily"
          if (!new java.io.File(p).exists())
            throw new EtlError(s"Payments data file not found: $p")
          spark.read.parquet(p)
      }
      out(s"[OK] Loaded ${payments.count()} rows")

      out(s"\n[2/3] Generating ${cfg.horizon}-day forecasts...")
      val (fc, dep) =
        Forecast.runPaymentsForecast(payments, horizonDays = cfg.horizon)
      val result = Formatters.ForecastResult.collect(fc, dep, cfg.horizon)
      val nBranches = result.forecast.map(_.sucursal).distinct.size
      out(s"[OK] Generated forecasts for $nBranches branches")

      out("\n[3/3] Formatting results...")
      val consoleMsg = Formatters.formatForecastForConsole(result)
      out("\n" + "=" * 60)
      out("Forecast Results:")
      out("=" * 60)
      out(consoleMsg)
      out("=" * 60)
      val tg = Formatters.formatTelegramMessage(result)
      out(s"\nTelegram message length: ${tg.length} characters")
      telegram match {
        case Some(send) =>
          out("\nSending to Telegram...")
          if (send(tg)) out("[OK] Message sent to Telegram")
          else out("[ERROR] Failed to send message to Telegram")
        case None =>
          out("[INFO] Telegram support not available " +
            "(utils.telegram_notifier not found)")
      }
      out("\n[OK] Pipeline completed successfully")
      0
    } catch {
      case e: Exception =>
        out(s"\n[ERROR] Pipeline failed: ${e.getMessage}")
        telegram.foreach { send =>
          try send(Formatters.errorTelegram(e.getMessage))
          catch {
            case se: Exception =>
              out(s"[WARNING] Failed to send error notification: " +
                se.getMessage)
          }
        }
        1
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args.toIndexedSeq) match {
      case Right(c) => c
      case Left(m) => System.err.println(s"ERROR: $m"); sys.exit(2)
    }
    val spark = graft.Sessions.checked(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel(if (cfg.verbose) "INFO" else "WARN")
    val code = run(spark, cfg, println)
    spark.stop()
    sys.exit(code)
  }
}
