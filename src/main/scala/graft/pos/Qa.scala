package graft.pos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality engine over `mart_payments_daily`
  * (reference `pos_core/qa/qa_payments.py`), level-gated like
  * `qa/api.py:105-134`:
  *   0 schema, 1 nulls, 2 non-negativity + consistency,
  *   3 missing/duplicate days + zero-method flags, 4 z-score anomalies.
  *
  * Every check is a lazy DataFrame; [[PaymentsQaResult.summary]]
  * forces only the counts, in two queries: one two-level grouped
  * aggregate (per (sucursal, fecha), then per sucursal) for levels 1–3,
  * and one window over the nine money columns stacked to (sucursal,
  * metric, fecha, value) for level 4. The z-score is the rolling 60-row
  * mean/sample-stddev per (sucursal, metric) (qa_payments.py:331-407).
  */
final case class PaymentsQaResult(
    summary: Map[String, Long],
    missingDays: Option[DataFrame],
    duplicateDays: Option[DataFrame],
    zeroMethodFlags: Option[DataFrame],
    zscoreAnomalies: Option[DataFrame]) {
  def hasErrors: Boolean =
    summary.getOrElse("null_key_rows", 0L) > 0 ||
      summary.getOrElse("negative_rows", 0L) > 0
}

object Qa {
  private val MoneyCols = PaymentsDaily.BucketCols :+ "propinas"
  private val Required = Seq("sucursal", "fecha") ++ MoneyCols ++
    Seq("num_tickets")

  def runPaymentsQa(df: DataFrame, level: Int = 4,
                    zWindow: Int = 60,
                    zThreshold: Double = 4.0): PaymentsQaResult = {
    val spark = df.sparkSession
    import spark.implicits._

    // Q1 level 0: schema
    val missing = Required.filterNot(df.columns.toSet)
    if (missing.nonEmpty)
      throw new DataQualityError(
        s"missing required columns: ${missing.mkString(", ")}")

    var summary = Map.empty[String, Long]

    val revenue = MoneyCols.map(c => coalesce(col(c), lit(0.0)))
      .reduce(_ + _)
    val zeroPred = $"num_tickets" > 0 &&
      $"ingreso_credito" === 0.0 && $"ingreso_debito" === 0.0

    // Levels 1–3 in ONE grouped aggregate: per (sucursal, fecha) the
    // row count and each row flag's sum, per sucursal the days its span
    // misses and the days it repeats, then the totals. The job count
    // does not depend on the number of branches or checks.
    if (level >= 1) {
      val flags: Seq[(String, Column)] =
        Seq("null_key_rows" -> ($"sucursal".isNull || $"fecha".isNull)) ++
          (if (level >= 2) Seq(
            "negative_rows" -> MoneyCols.map(c => col(c) < -1e-6)
              .reduce(_ || _),
            "tickets_no_revenue" -> ($"num_tickets" > 0 && revenue <= 1e-6),
            "revenue_no_tickets" -> (revenue > 1e-6 && $"num_tickets" <= 0))
           else Nil) ++
          (if (level >= 3) Seq("zero_method_days" -> zeroPred) else Nil)
      val perBranch = flags.map { case (k, _) => sum(col(k)).as(k) } ++
        (if (level >= 3) Seq(
          (datediff(max($"fecha"), min($"fecha")) + 1 - count(lit(1)))
            .cast("long").as("missing_days"),
          sum(when($"n" > 1, 1L).otherwise(0L)).as("duplicate_days"))
         else Nil)
      val counts = flags.map(_._1) ++
        (if (level >= 3) Seq("missing_days", "duplicate_days") else Nil)
      val r = df.groupBy($"sucursal", $"fecha")
        .agg(count(lit(1)).as("n"), flags.map { case (k, p) =>
          sum(when(p, 1L).otherwise(0L)).as(k) }: _*)
        .groupBy($"sucursal").agg(perBranch.head, perBranch.tail: _*)
        .agg(sum(counts.head).as(counts.head),
          counts.tail.map(k => sum(k).as(k)): _*)
        .collect()(0)
      counts.foreach { k =>
        summary += k -> (if (r.isNullAt(r.fieldIndex(k))) 0L
                         else r.getAs[Long](k))
      }
    }

    // W4/W2/Q5 level 3: the rows behind the counts, lazy for callers
    val (missingDays, dupDays, zeroFlags) = if (level >= 3) {
      val cal = df.groupBy($"sucursal")
        .agg(min($"fecha").as("d0"), max($"fecha").as("d1"))
        .select($"sucursal",
          explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("fecha"))
      val md = cal.join(df.select($"sucursal", $"fecha"),
        Seq("sucursal", "fecha"), "left_anti")
      val dd = df.groupBy($"sucursal", $"fecha")
        .agg(count(lit(1)).as("n")).filter($"n" > 1)
      val zf = df.filter(zeroPred)
        .select($"sucursal", $"fecha", $"num_tickets")
      (Some(md), Some(dd), Some(zf))
    } else (None, None, None)

    // W1 level 4: rolling z-score per sucursal × money column, one
    // window over the stacked columns
    val zs = if (level >= 4) {
      val w = Window.partitionBy($"sucursal", $"metric").orderBy($"fecha")
        .rowsBetween(-(zWindow - 1), 0)
      val all = df.select($"sucursal", $"fecha",
          PaymentsDaily.stacked(MoneyCols, "metric", "value"))
        .select($"sucursal", $"fecha", $"metric", $"value",
          avg($"value").over(w).as("mu"),
          stddev_samp($"value").over(w).as("sd")) // ddof=1, matches pandas
        .withColumn("z", when($"sd" > 0, ($"value" - $"mu") / $"sd"))
        .filter(abs($"z") >= zThreshold)
      summary += "zscore_anomalies" -> all.count()
      Some(all)
    } else None

    PaymentsQaResult(summary, missingDays, dupDays, zeroFlags, zs)
  }

  /** A13 monthly roll-ups (qa_payments.py:704-815): per (sucursal,
    * year-month) totals, then two month × sucursal pivots — sales and
    * elimination-pct. Returns (monthly, salesPivot, elimPctPivot). */
  def monthlyPivots(df: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val revenue = MoneyCols.filter(df.columns.contains)
      .map(c => coalesce(col(c), lit(0.0))).reduce(_ + _)
    val elimCol =
      if (df.columns.contains("tickets_with_eliminations"))
        coalesce($"tickets_with_eliminations", lit(0L))
      else lit(0L)
    val monthly = df
      .withColumn("year_month", date_format($"fecha", "yyyy-MM"))
      .groupBy($"sucursal", $"year_month")
      .agg(sum(revenue).as("total_sin_propinas"),
        sum($"num_tickets").as("num_tickets"),
        sum(elimCol).as("tickets_with_eliminations"))
      .withColumn("pct_eliminations",
        when($"num_tickets" === 0, 0.0)
          .otherwise(bround($"tickets_with_eliminations" * 100.0 /
            $"num_tickets", 2)))
    val sales = monthly.groupBy($"year_month")
      .pivot("sucursal").sum("total_sin_propinas").na.fill(0.0)
    val elim = monthly.groupBy($"year_month")
      .pivot("sucursal").sum("pct_eliminations").na.fill(0.0)
    (monthly, sales, elim)
  }

  /** U6 seeded spot-check sample (qa_payments.py:823-965): choose n
    * distinct (sucursal, year-month) pairs with rand(seed), then join
    * back all detail rows for the chosen pairs. Deterministic within
    * Spark for a fixed seed. */
  def sampleMonthPairs(df: DataFrame, n: Int, seed: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val withYm = df.withColumn("year_month",
      date_format($"fecha", "yyyy-MM"))
    val pairs = withYm.select($"sucursal", $"year_month").distinct()
      .orderBy($"sucursal", $"year_month") // stable pre-shuffle order
      .withColumn("r", rand(seed))
      .orderBy($"r").limit(n)
      .drop("r")
    withYm.join(broadcast(pairs), Seq("sucursal", "year_month"))
  }
}
