package graft.pos

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Payments forecasting + banking deposit schedule
  * (reference `pos_core/forecasting/`):
  *
  *  - forecast (W3/W7/W8): the mart is stacked to (sucursal, metric,
  *    fecha, valor) and shuffled once by (sucursal, metric); one
  *    `flatMapGroups` kernel per series densifies it (gaps 0.0,
  *    duplicate days summed in a fixed order — preparation.py:12-39),
  *    drops it below `minObs` days (api.py:296-299) and runs the model:
  *    NaiveLastWeek, the nearest k ∈ 1..52 whose source target − 7k is
  *    on/before the last data date and not holiday-adjacent, value from
  *    the dense series else 0 (naive.py:19-56,92-176), or
  *    [[ArimaLite.forecastLog1p]] (arima.py:31-185);
  *  - deposit schedule (W5/W6): each deposit date explodes its
  *    weekday-conditional cash and card source days once, joins the
  *    hist-else-forecast daily rows once and aggregates once
  *    (deposit_schedule.py:31-155, cash_flow.py:19-85).
  *
  * Parallelism is (branch × metric) series for the forecast and daily
  * rows for the schedule; neither job count grows with the branches.
  */
object Forecast {

  val DefaultMetrics: Seq[String] = Seq("ingreso_total",
    "ingreso_efectivo", "ingreso_credito", "ingreso_debito")

  /** Row-sum ingreso_total (preparation.py:42-66). */
  def withIngresoTotal(df: DataFrame): DataFrame = {
    val cols = PaymentsDaily.BucketCols.filter(df.columns.contains)
    if (cols.isEmpty) throw new DataQualityError("no ingreso_* columns")
    df.withColumn("ingreso_total",
      cols.map(c => coalesce(col(c), lit(0.0))).reduce(_ + _))
  }

  /** W6 holiday adjacency: the holidays and the days either side. */
  private def adjacentDays(holidays: Set[LocalDate]): Set[LocalDate] =
    holidays.flatMap(h => Seq(h.minusDays(1), h, h.plusDays(1)))

  /** [[adjacentDays]] as a column predicate (the set is tiny and fixed,
    * so it goes in as string literals). */
  def holidayAdjacent(d: Column, holidays: Set[LocalDate]): Column =
    if (holidays.isEmpty) lit(false)
    else d.cast("string")
      .isin(adjacentDays(holidays).toSeq.map(_.toString): _*)

  /** One daily observation, or one forecast day, of a series. */
  private[pos] final case class SeriesRow(sucursal: String,
    metric: String, fecha: LocalDate, valor: Double)

  /** A model: the next `horizon` values after a dense daily series
    * whose first day is the given date. */
  private type Model = (Array[Double], LocalDate) => Array[Double]

  /** NaiveLastWeek: each target takes its nearest valid lag-7 source. */
  private def naive(horizon: Int, holidays: Set[LocalDate],
                    maxWeeksBack: Int = 52): Model = {
    val adjacent = adjacentDays(holidays)
    (v, d0) => {
      val last = d0.plusDays(v.length - 1L)
      Array.tabulate(horizon) { i =>
        val target = last.plusDays(i + 1L)
        (1 to maxWeeksBack).iterator.map(k => target.minusDays(7L * k))
          .find(src => !src.isAfter(last) && !adjacent(src))
          .fold(0.0) { src =>
            val j = src.toEpochDay - d0.toEpochDay
            if (j >= 0) v(j.toInt) else 0.0
          }
      }
    }
  }

  /** Log-AR (W8), fitted on each series where it lies. */
  private def arima(horizon: Int): Model =
    (v, _) => ArimaLite.forecastLog1p(v, horizon)

  /** The model's forecast days after the last data date of every
    * (sucursal, metric) series spanning ≥ `minObs` days, as (sucursal,
    * fecha, metric, valor) ordered by those keys. Rows with a null
    * sucursal or fecha belong to no series (pandas drops null group
    * keys; QA counts them as `null_key_rows`). */
  private def forecast(mart: DataFrame, metrics: Seq[String],
                       minObs: Int, model: Model): DataFrame = {
    val spark = mart.sparkSession
    import spark.implicits._
    val present = metrics.filter(mart.columns.contains)
    if (present.isEmpty)
      throw new DataQualityError(s"none of $metrics present")
    mart.select($"sucursal", $"fecha".cast("date").as("fecha"),
        PaymentsDaily.stacked(present, "metric", "valor"))
      .filter($"sucursal".isNotNull && $"fecha".isNotNull)
      .groupBy($"sucursal", $"metric").as[(String, String), SeriesRow]
      .flatMapGroups { (key: (String, String), rows: Iterator[SeriesRow]) =>
        // sorted by (day, value): a day's duplicates sum in one order
        val obs = rows.map(r => (r.fecha.toEpochDay, r.valor)).toArray
          .sorted(Ordering.Tuple2(Ordering.Long,
            Ordering.Double.TotalOrdering))
        val d0 = obs.head._1
        val n = (obs.last._1 - d0 + 1).toInt
        if (n < minObs) Iterator.empty
        else {
          val dense = new Array[Double](n)
          obs.foreach { case (d, v) => dense((d - d0).toInt) += v }
          model(dense, LocalDate.ofEpochDay(d0)).iterator.zipWithIndex
            .map { case (v, i) =>
              SeriesRow(key._1, key._2, LocalDate.ofEpochDay(d0 + n + i), v)
            }
        }
      }
      .select($"sucursal", $"fecha", $"metric", $"valor")
      // series × horizon rows: one sorted partition, gathered without
      // the sampling pass (and second kernel run) of a range sort
      .repartition(1)
      .sortWithinPartitions($"sucursal", $"fecha", $"metric")
  }

  /** Deposit schedule over the forecast window: cash batched Mon/Wed/
    * Fri, cards next-business-day; values from historical where the
    * source date ≤ last historical date, else from the forecast
    * (summed across branches — cash_flow.py:19-85). Money is summed as
    * decimal(18,2), so the result does not depend on row order. Output
    * (fecha, efectivo, credito, debito, total). */
  def depositSchedule(forecastLong: DataFrame,
                      historicalMart: DataFrame): DataFrame = {
    val spark = forecastLong.sparkSession
    import spark.implicits._
    val metrics = Seq("ingreso_efectivo", "ingreso_credito",
      "ingreso_debito")

    val lastHist = historicalMart.agg(max($"fecha".cast("date")))
      .collect()(0).getDate(0)
    // an empty historical mart would make both null-comparison filters
    // below drop every row → silent all-zero schedule; fail loudly
    if (lastHist == null)
      throw new DataQualityError(
        "depositSchedule: historical mart has no rows (no last date)")

    // hist-else-forecast daily rows: hist ≤ lastHist, forecast after;
    // absent metric columns count as zero (cash_flow.py:42-57)
    def cents(c: Column) = coalesce(c, lit(0.0)).cast("decimal(18,2)")
    val histCols = historicalMart.columns.toSet
    val hist = historicalMart
      .select(($"fecha".cast("date").as("d") +: metrics.map(m =>
        cents(if (histCols(m)) col(m) else lit(0.0)).as(m))): _*)
      .filter($"d" <= lit(lastHist))
    val fcst = forecastLong
      .filter($"metric".isin(metrics: _*) &&
        $"fecha".cast("date") > lit(lastHist))
      .select(($"fecha".cast("date").as("d") +: metrics.map(m =>
        cents(when($"metric" === m, $"valor")).as(m))): _*)

    // dayofweek: 1=Sun..7=Sat. Cash sources (deposit_schedule.py:31-67):
    // Mon←{-3,-2,-1}, Wed←{-2,-1}, Fri←{-2,-1}, else none.
    val cashSrcs = expr("""CASE dayofweek(dep)
        WHEN 2 THEN array(date_sub(dep,3), date_sub(dep,2), date_sub(dep,1))
        WHEN 4 THEN array(date_sub(dep,2), date_sub(dep,1))
        WHEN 6 THEN array(date_sub(dep,2), date_sub(dep,1))
        ELSE array() END""")
    // Card sources (:70-101): Mon←{-3,-2,-1}; else previous business day
    val cardSrcs = expr("""CASE dayofweek(dep)
        WHEN 2 THEN array(date_sub(dep,3), date_sub(dep,2), date_sub(dep,1))
        WHEN 1 THEN array(date_sub(dep,2))
        WHEN 7 THEN array(date_sub(dep,1))
        ELSE array(date_sub(dep,1)) END""")
    // the deposit dates are few (horizon + the spread of the branches'
    // last dates), so the schedule is built in one partition: no
    // exchange to dedupe them, to group by them or to sort by them.
    // Every deposit has a card source, so each keeps at least one row.
    val sources = forecastLong.select($"fecha".cast("date").as("dep"))
      .coalesce(1).distinct()
      .select($"dep", cashSrcs.as("cash"), cardSrcs.as("card"))
      .select($"dep", $"cash", $"card",
        explode(array_union($"cash", $"card")).as("d"))

    def total(in: String, metric: String, alias: String) =
      coalesce(sum(when(array_contains(col(in), $"d"), col(metric))),
        lit(0)).cast("double").as(alias)
    sources.join(hist.unionByName(fcst), Seq("d"), "left")
      .groupBy($"dep".as("fecha"))
      .agg(total("cash", "ingreso_efectivo", "efectivo"),
        total("card", "ingreso_credito", "credito"),
        total("card", "ingreso_debito", "debito"))
      .withColumn("total", $"efectivo" + $"credito" + $"debito")
      .orderBy($"fecha")
  }

  /** End-to-end: mart → ingreso_total → per-series forecast → deposit
    * schedule (api.py:179-362 shape). Raises a [[DataQualityError]]
    * when every series falls below `minObs` (api.py:332-336). */
  def runPaymentsForecast(mart: DataFrame, horizonDays: Int = 7,
                          metrics: Seq[String] = DefaultMetrics,
                          holidays: Set[LocalDate] = Set.empty,
                          model: String = "naive",
                          minObs: Int = 30)
      : (DataFrame, DataFrame) = {
    val withTotal = withIngresoTotal(mart)
    val m = model match {
      case "naive" => naive(horizonDays, holidays)
      case "arima" => arima(horizonDays)
      case other => throw new ConfigError(s"unknown model: $other")
    }
    // the schedule reads the forecast twice; it is tiny
    // (series × horizon), so it is materialized once
    val fc = forecast(withTotal, metrics, minObs, m)
      .localCheckpoint()
    if (fc.isEmpty)
      throw new DataQualityError(
        s"no (sucursal, metric) series with >= $minObs observations")
    (fc, depositSchedule(fc, withTotal))
  }
}
