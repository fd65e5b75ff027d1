package graft.pos

import org.apache.spark.sql.{DataFrame, SparkSession}

/** High-level query facade mirroring
  * `/root/reference/src/pos_core/etl/queries.py`: get the data at the
  * requested grain, running ONLY the ETL stages whose manifests are
  * missing, failed, or version-outdated (`get_sales` :30-141,
  * `get_payments` :144-238, `get_payments_forecast` :239-296).
  *
  * The cascade logic is the subject of this module; the stage WORK is
  * injected ([[EtlStages]]) exactly as queries.py delegates to
  * `download_/clean_/aggregate_*` — download needs the live POS
  * (sandbox-injected like S1-S3), clean/aggregate are the real
  * library stages closed over the caller's directories. Manifests are
  * maintained through [[StageManifests.runStage]] around each
  * invocation (crash-safe failed→ok), so a crashed stage re-runs.
  *
  * Faithful quirks preserved:
  *  - the three needs-flags are computed from metadata BEFORE any
  *    stage runs, so re-cleaning does NOT cascade into re-aggregation
  *    when the aggregate manifest is still ok (queries.py:83-117);
  *  - metadata-ok-but-output-missing falls back to a FORCED
  *    re-aggregate (queries.py:137-142,"re-aggregating" warning);
  *  - day-level sales aggregation raises NotImplemented
  *    (queries.py:138-139);
  *  - the PAYMENTS mart store is a CONSTANT name
  *    (`aggregated_payments_daily`, queries.py:232) while manifests
  *    are per-range: interleaving two ranges overwrites the store,
  *    and a later call for the first range serves the second range's
  *    rows from its still-ok manifest. Sales does not share the
  *    hazard (its store names embed the range, queries.py:130-133).
  *    Callers interleaving payment ranges — including
  *    [[getPaymentsForecast]]'s 3-year window — should pass
  *    `refresh = true` or use disjoint roots, exactly as users of the
  *    reference must.
  */
object PosQueries {

  /** The three stage workers of one domain. `download` and `clean`
    * persist into their stage dirs; `aggregate` computes the mart
    * frame from the clean store (the facade persists + serves it). */
  final case class EtlStages(download: (String, String) => Unit,
                             clean: (String, String) => Unit,
                             aggregate: (String, String) => DataFrame)

  private val PaymentsCleanerVersion = "payments_cleaner_v1"
  private val SalesCleanerVersion = "sales_cleaner_v1"
  private val PaymentsAggVersion = "aggregate_v1"

  private def validateDates(start: String, end: String): Unit =
    try {
      java.time.LocalDate.parse(start)
      java.time.LocalDate.parse(end)
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new ConfigError(s"Invalid date format: ${e.getMessage}")
    }
}

final class PosQueries(spark: SparkSession, rootDir: String) {
  import PosQueries._

  private def stageDir(stage: String, domain: String) =
    s"$rootDir/$stage/$domain"

  /** One domain's three-stage cascade (the shared body of get_sales /
    * get_payments). `martName` is the stored-output name the
    * all-up-to-date branch loads (aggregated_payments_daily.csv /
    * sales_by_{level}_{start}_{end}.csv shapes). */
  private def getStaged(domain: String, cleanerVersion: String,
                        aggVersion: String, martName: String,
                        stages: EtlStages, start: String, end: String,
                        refresh: Boolean): DataFrame = {
    validateDates(start, end)
    val raw = new StageManifests(stageDir("raw", domain))
    val clean = new StageManifests(stageDir("clean", domain))
    val proc = new StageManifests(stageDir("proc", domain))
    val martPath = s"${stageDir("proc", domain)}/$martName"

    def runAggregate(force: Boolean): DataFrame =
      proc.runStage(start, end, aggVersion, Nil, force) {
        val mart = stages.aggregate(start, end)
        mart.write.mode("overwrite").parquet(martPath)
        mart.schema
      }.fold(spark.read)(spark.read.schema).parquet(martPath)

    if (refresh) {
      raw.runStage(start, end, "raw_v1", Nil, force = true) {
        stages.download(start, end)
      }
      clean.runStage(start, end, cleanerVersion, Nil, force = true) {
        stages.clean(start, end)
      }
      return runAggregate(force = true)
    }

    // all three needs-flags read BEFORE any stage runs (queries.py
    // :83-103): a re-clean does not cascade into re-aggregation
    val needsDownload =
      !raw.read(start, end).exists(_.status == "ok")
    val needsClean = !clean.read(start, end).exists(m =>
      m.status == "ok" && m.version == cleanerVersion)
    val needsAggregate = !proc.read(start, end).exists(m =>
      m.status == "ok" && m.version == aggVersion)

    if (needsDownload)
      raw.runStage(start, end, "raw_v1", Nil) {
        stages.download(start, end)
      }
    if (needsClean)
      clean.runStage(start, end, cleanerVersion, Nil) {
        stages.clean(start, end)
      }
    if (needsAggregate) return runAggregate(force = false)

    // all up-to-date: serve the stored mart; metadata-ok-but-missing
    // falls back to a forced re-aggregate (queries.py:137-142)
    try graft.sources.ParquetFooter.read(spark, martPath)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        runAggregate(force = true)
    }
  }

  /** `get_payments` (queries.py:144-238): daily payments mart, stages
    * only as needed. */
  def getPayments(stages: EtlStages, start: String, end: String,
                  refresh: Boolean = false): DataFrame =
    getStaged("payments", PaymentsCleanerVersion, PaymentsAggVersion,
      "aggregated_payments_daily", stages, start, end, refresh)

  /** `get_sales` (queries.py:30-141): level ∈ ticket | group | day,
    * with the level-specific aggregate version key and stored name;
    * day is not implemented in the reference either. */
  def getSales(stages: EtlStages, start: String, end: String,
               level: String = "ticket",
               refresh: Boolean = false): DataFrame = {
    if (level == "day")
      throw new ConfigError("Day-level aggregation not yet implemented")
    if (level != "ticket" && level != "group")
      throw new ConfigError(s"Unknown sales level '$level'")
    getStaged("sales", SalesCleanerVersion, s"aggregate_${level}_v1",
      s"sales_by_${level}_${start}_$end", stages, start, end, refresh)
  }

  /** `get_payments_forecast` (queries.py:239-296): history window =
    * 3·365 days back from `asOf`, horizon in WEEKS, forecast frame
    * only (the deposit schedule stays on [[Forecast]] for callers
    * that want both). */
  def getPaymentsForecast(stages: EtlStages, asOf: String,
                          horizonWeeks: Int,
                          refresh: Boolean = false): DataFrame = {
    val asOfDate =
      try java.time.LocalDate.parse(asOf)
      catch {
        case e: java.time.format.DateTimeParseException =>
          throw new ConfigError(s"Invalid date format: ${e.getMessage}")
      }
    val start = asOfDate.minusDays(3L * 365).toString
    val mart = getPayments(stages, start, asOfDate.toString, refresh)
    val (fc, _) =
      Forecast.runPaymentsForecast(mart, horizonDays = horizonWeeks * 7)
    fc
  }
}
