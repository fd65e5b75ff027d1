package graft.pos

import graft.functions.Cleaning.normalizeName
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `fact_payments_ticket` → `mart_payments_daily` (the reference's
  * flagship mart, `/root/reference/src/pos_core/etl/marts/
  * payments_daily.py:314-496`), Spark-first:
  *
  *  - one shuffle keyed on (sucursal, operating_date) feeds the bucket
  *    pivot AND the tips / ticket-count / elimination aggregates (they
  *    share the exchange);
  *  - the 9-bucket pivot passes its value list explicitly (no
  *    discovery pass);
  *  - the tip-reconciliation check is an ACTION before the mart is
  *    returned — Spark is lazy, fail-fast semantics need the count
  *    forced here (SURVEY §7.4 risk 4);
  *  - holidays are a broadcast join of a driver-provided set (the
  *    reference fetches them from an HTTP API and degrades to
  *    all-false on failure — provider is pluggable here).
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
      .filter(abs(coalesce($"tips_sum", lit(0.0)) -
        coalesce($"tips_expected", lit(0.0))) > tipTolerance)
  }

  /** Build the daily mart. Throws [[DataQualityError]] on missing
    * columns or tip-reconciliation failure (payments_daily.py:341-397). */
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
    val hasTip = cols("ticket_tip")
    val hasDayTips = cols("total_day_tips")
    val hasOrder = cols("order_index")
    val hasElim = cols("elimination_present")

    val key = Seq($"sucursal", $"operating_date")

    // Q6/J2: tip reconciliation — hard abort BEFORE any mart math
    if (hasTip && hasDayTips) {
      val viol = tipViolations(payments, tipTolerance)
      val sample = viol.limit(10).collect()
      if (sample.nonEmpty)
        throw new DataQualityError(
          "tip reconciliation failed for " +
            sample.map(r => s"(${r.get(0)}, ${r.get(1)}: " +
              s"sum=${r.get(2)} expected=${r.get(3)})").mkString("; "))
    }

    // A1+A2: bucket classify + fixed-domain pivot, fill 0
    val buckets = payments
      .withColumn("bucket", bucketForPaymentMethod($"payment_method"))
      .groupBy(key: _*)
      .pivot("bucket", BucketCols)
      .sum("ticket_total")
      .na.fill(0.0, BucketCols)

    // A3/A4/A5 in ONE aggregate on the same key (single shuffle)
    val numTickets =
      if (hasOrder) countDistinct($"order_index")
      else count(lit(1))
    val elimTickets =
      if (hasOrder && hasElim)
        countDistinct(when($"elimination_present", $"order_index"))
      else if (hasElim) sum(when($"elimination_present", 1L).otherwise(0L))
      else lit(0L)
    val tipsAgg =
      if (hasTip) sum(coalesce($"ticket_tip", lit(0.0))) else lit(0.0)
    val metrics = payments.groupBy(key: _*)
      .agg(tipsAgg.as("propinas"),
        numTickets.as("num_tickets"),
        elimTickets.as("tickets_with_eliminations"))

    // J3 assembly + F17 pct (banker's rounding like the reference's
    // pandas round; zero tickets → 0, payments_daily.py:464-469)
    val holidaysDf = spark.createDataset(holidays.map(_.toString).toSeq)
      .toDF("h_date").select($"h_date".cast("date"))
    val assembled = buckets
      .join(metrics, Seq("sucursal", "operating_date"), "left")
      .na.fill(0.0, Seq("propinas"))
      .na.fill(0L, Seq("num_tickets", "tickets_with_eliminations"))
      .withColumn("pct_tickets_with_eliminations",
        when($"num_tickets" === 0, lit(0.0))
          .otherwise(bround($"tickets_with_eliminations" * 100.0 /
            $"num_tickets", 2)))
      .join(broadcast(holidaysDf),
        $"operating_date" === $"h_date", "left")
      .withColumn("is_national_holiday", $"h_date".isNotNull)
      .drop("h_date")

    assembled
      .withColumnRenamed("operating_date", "fecha")
      .select(($"sucursal" +: $"fecha" +: BucketCols.map(col) :+
        $"propinas" :+ $"num_tickets" :+ $"tickets_with_eliminations" :+
        $"pct_tickets_with_eliminations" :+ $"is_national_holiday"): _*)
      .orderBy($"sucursal", $"fecha")
  }
}
