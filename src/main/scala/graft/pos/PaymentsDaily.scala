package graft.pos

import graft.functions.Cleaning.normalizeName
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `fact_payments_ticket` → `mart_payments_daily` (the reference's
  * flagship mart, `/root/reference/src/pos_core/etl/marts/
  * payments_daily.py:314-496`), Spark-first:
  *
  *  - ONE shuffle of the lines, by (sucursal, operating_date), feeds
  *    a two-level aggregate — per (day key, ticket), then per day key:
  *    9 bucket sums, tips, expected day tips, ticket and eliminated-
  *    ticket counts (no pivot, no distinct counts); money sums in
  *    exact decimal(18,2) cents, so row order cannot matter;
  *  - the day rows are materialized once: the tip-reconciliation check
  *    reads them and throws BEFORE anything is written (Spark is lazy,
  *    SURVEY §7.4 risk 4), and the mart is built from the same rows;
  *  - the grain is bounded by branches × days, so the mart is sorted
  *    in one partition (no range-sampling job) and writes one file;
  *  - holidays are a driver-provided literal set (the reference
  *    fetches them over HTTP, all-false on failure).
  */
object PaymentsDaily {

  /** Fixed bucket domain (payments_daily.py:196-208). */
  val BucketCols: Seq[String] = Seq(
    "ingreso_efectivo", "ingreso_credito", "ingreso_debito",
    "ingreso_amex", "ingreso_ubereats", "ingreso_rappi",
    "ingreso_transferencia", "ingreso_SubsidioTEC", "ingreso_otros")

  /** Generator over mart columns `cols`: one (name, value) row per
    * column, nulls as 0.0 — the long form QA and the forecast read. */
  def stacked(cols: Seq[String], name: String, value: String): Column =
    expr(cols.map(c => s"'$c', coalesce(CAST(`$c` AS DOUBLE), 0.0)")
      .mkString(s"stack(${cols.size}, ", ", ", s") as ($name, $value)"))

  /** Ordered substring bucketing over the normalized method — rule
    * order matters (rappi before credito etc.,
    * payments_daily.py:157-194). One when-chain → codegen'd. */
  def bucketForPaymentMethod(method: Column): Column = {
    val s = normalizeName(method)
    when(s.isNull || s === "", "ingreso_otros")
      .when(s.contains("efectivo"), "ingreso_efectivo")
      .when(s.contains("rappi"), "ingreso_rappi")
      .when(s.contains("uber"), "ingreso_ubereats")
      .when(s.contains("subsidio") && s.contains("tec"), "ingreso_SubsidioTEC")
      .when(s.contains("transfer"), "ingreso_transferencia")
      .when(s.contains("amex") || s.contains("american express"), "ingreso_amex")
      .when(s.contains("debito"), "ingreso_debito")
      .when(s.contains("credito"), "ingreso_credito")
      .otherwise("ingreso_otros")
  }

  private val Required =
    Seq("sucursal", "operating_date", "payment_method", "ticket_total")

  private def tipGap(sum: Column, expected: Column, tolerance: Double) =
    abs(coalesce(sum, lit(0.0)) - coalesce(expected, lit(0.0))) > tolerance

  /** J2/Q6 tip-reconciliation report: per (sucursal, operating_date),
    * per-ticket tips summed vs the embedded day total; rows whose gap
    * exceeds the tolerance (payments_daily.py:341-397). `aggregate`
    * aborts on any such row; exposed so the check is also queryable
    * as a report. */
  def tipViolations(payments: DataFrame,
                    tipTolerance: Double = 0.05): DataFrame = {
    import payments.sparkSession.implicits._
    payments.groupBy($"sucursal", $"operating_date")
      .agg(sum($"ticket_tip").as("tips_sum"),
        max($"total_day_tips").as("tips_expected"))
      .filter(tipGap($"tips_sum", $"tips_expected", tipTolerance))
  }

  /** Build the daily mart. Throws [[DataQualityError]] on missing
    * columns or tip-reconciliation failure (payments_daily.py:341-397).
    * A day key with a null part keeps its bucket sums but reports no
    * tips and no tickets, as the reference's key join does. */
  def aggregate(payments: DataFrame,
                holidays: Set[java.time.LocalDate] = Set.empty,
                tipTolerance: Double = 0.05): DataFrame = {
    val cols = payments.columns.toSet
    val missing = Required.filterNot(cols)
    if (missing.nonEmpty)
      throw new DataQualityError(s"missing required columns: " +
        missing.mkString(", "))

    val spark = payments.sparkSession
    import spark.implicits._
    val hasOrder = cols("order_index")
    // absent optional columns read as no tips and no eliminations
    val lines = payments.withColumns(Map(
      "ticket_tip" -> lit(null).cast("double"),
      "total_day_tips" -> lit(null).cast("double"),
      "elimination_present" -> lit(false)).filter(kv => !cols(kv._1)))
    val key = Seq($"sucursal", $"operating_date")
    // money as exact cents: the decimal(18,2) value's unscaled long,
    // summed as a long (a decimal sum over 18 digits boxes each update)
    def cents(c: Column) = sum((c.cast("decimal(18,2)") * 100).cast("long"))

    // A1-A5 on one exchange: per (day key, ticket), then per day key;
    // without order_index every line is a ticket
    val daily = lines.repartition(key: _*)
      .withColumn("bucket", bucketForPaymentMethod($"payment_method"))
      .groupBy((if (hasOrder) key :+ $"order_index" else key): _*)
      .agg(count(lit(1)).as("lines"), (BucketCols.map(b =>
        cents(when($"bucket" === b, $"ticket_total")).as(b)) ++ Seq(
        cents($"ticket_tip").as("tips"),
        max($"total_day_tips").as("tips_expected"),
        sum(when($"elimination_present", 1L).otherwise(0L)).as("elim"))): _*)
      .groupBy(key: _*)
      .agg(sum("tips").as("tips"), (BucketCols.map(b => sum(b).as(b)) ++ Seq(
        max("tips_expected").as("tips_expected"),
        (if (hasOrder) count($"order_index") else sum("lines"))
          .as("num_tickets"),
        (if (hasOrder) count(when($"elim" > 0, $"order_index"))
          else sum("elim")).as("tickets_with_eliminations"))): _*)
      .localCheckpoint()

    // Q6/J2: tip reconciliation — hard abort BEFORE anything is written
    if (cols("ticket_tip") && cols("total_day_tips")) {
      val sample = daily.select(key :+ ($"tips" / 100.0).as("tips") :+
          $"tips_expected": _*)
        .filter(tipGap($"tips", $"tips_expected", tipTolerance))
        .limit(10).collect()
      if (sample.nonEmpty)
        throw new DataQualityError(
          "tip reconciliation failed for " +
            sample.map(r => s"(${r.get(0)}, ${r.get(1)}: " +
              s"sum=${r.get(2)} expected=${r.get(3)})").mkString("; "))
    }

    // J3 assembly + F17 pct (banker's rounding like the reference's
    // pandas round; zero tickets → 0, payments_daily.py:464-469)
    val nullKey = key.map(_.isNull).reduce(_ || _)
    def keyed(c: Column, zero: Column) =
      when(nullKey, zero).otherwise(coalesce(c, zero))
    daily
      .select(($"sucursal" +: $"operating_date".as("fecha") +:
        BucketCols.map(b => coalesce(col(b) / 100.0, lit(0.0)).as(b)) :+
        keyed($"tips" / 100.0, lit(0.0)).as("propinas") :+
        keyed($"num_tickets", lit(0L)).as("num_tickets") :+
        keyed($"tickets_with_eliminations", lit(0L))
          .as("tickets_with_eliminations")): _*)
      .withColumn("pct_tickets_with_eliminations",
        when($"num_tickets" === 0, lit(0.0))
          .otherwise(bround($"tickets_with_eliminations" * 100.0 /
            $"num_tickets", 2)))
      .withColumn("is_national_holiday", coalesce($"fecha".isin(
        holidays.toSeq.sortBy(_.toEpochDay): _*), lit(false)))
      .coalesce(1)
      .sortWithinPartitions($"sucursal", $"fecha")
  }
}
