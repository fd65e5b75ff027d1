package graft.pos

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Stage-cascade contracts of the queries.py facade: run only what
  * the manifests say is missing/outdated, serve stored otherwise,
  * with the reference's faithful quirks (no clean→aggregate cascade;
  * forced re-aggregate when metadata is ok but output missing). */
class PosQueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private final class Counters {
    var download = 0
    var clean = 0
    var aggregate = 0
    val downloadRanges =
      scala.collection.mutable.ListBuffer.empty[(String, String)]
  }

  /** Stage fns that count invocations; aggregate returns `marker` so
    * staleness is observable in the served frame. */
  private def stages(c: Counters, marker: () => Long)
      : PosQueries.EtlStages = {
    val s = spark
    import s.implicits._
    PosQueries.EtlStages(
      download = (a, b) => { c.download += 1; c.downloadRanges += ((a, b)) },
      clean = (_, _) => c.clean += 1,
      aggregate = (_, _) => {
        c.aggregate += 1
        Seq(("Kavia", "2025-01-01", 100.0, marker()))
          .toDF("sucursal", "fecha", "ingreso_efectivo", "agg_marker")
      })
  }

  test("cascade: cold run executes all stages, warm run serves stored, " +
    "refresh forces all") {
    val root = Files.createTempDirectory("posq").toString
    val q = new PosQueries(spark, root)
    val c = new Counters
    val st = stages(c, () => c.aggregate.toLong)

    val m1 = q.getPayments(st, "2025-01-01", "2025-01-31")
    assert((c.download, c.clean, c.aggregate) == ((1, 1, 1)))
    assert(m1.count() == 1)

    val m2 = q.getPayments(st, "2025-01-01", "2025-01-31")
    assert((c.download, c.clean, c.aggregate) == ((1, 1, 1)))
    assert(m2.select("agg_marker").collect()(0).getLong(0) == 1L)

    q.getPayments(st, "2025-01-01", "2025-01-31", refresh = true)
    assert((c.download, c.clean, c.aggregate) == ((2, 2, 2)))

    // a DIFFERENT range is its own manifest chain
    q.getPayments(st, "2025-02-01", "2025-02-28")
    assert((c.download, c.clean, c.aggregate) == ((3, 3, 3)))
    assert(c.downloadRanges.last == (("2025-02-01", "2025-02-28")))
  }

  test("outdated cleaner version re-cleans but does NOT cascade into " +
    "re-aggregation (queries.py needs-flags are pre-computed)") {
    val root = Files.createTempDirectory("posq").toString
    val q = new PosQueries(spark, root)
    val c = new Counters
    val st = stages(c, () => c.aggregate.toLong)
    q.getPayments(st, "2025-01-01", "2025-01-31")

    // simulate a manifest written by an older cleaner
    new StageManifests(s"$root/clean/payments").write(StageMetadata(
      "2025-01-01", "2025-01-31", Nil, "payments_cleaner_v0",
      java.time.Instant.now().toString, "ok"))
    val served = q.getPayments(st, "2025-01-01", "2025-01-31")
    assert(c.download == 1 && c.clean == 2)
    assert(c.aggregate == 1, "aggregate must not re-run")
    // the served mart is the STORED (now stale) one — the faithful quirk
    assert(served.select("agg_marker").collect()(0).getLong(0) == 1L)
  }

  test("metadata ok but stored mart missing -> forced re-aggregate") {
    val root = Files.createTempDirectory("posq").toString
    val q = new PosQueries(spark, root)
    val c = new Counters
    val st = stages(c, () => c.aggregate.toLong)
    q.getPayments(st, "2025-01-01", "2025-01-31")

    // wipe the stored mart, keep the ok manifest
    def rmdir(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.forEach(rmdir) finally s.close()
      }
      Files.deleteIfExists(p)
    }
    rmdir(java.nio.file.Paths.get(
      s"$root/proc/payments/aggregated_payments_daily"))

    val served = q.getPayments(st, "2025-01-01", "2025-01-31")
    assert(c.aggregate == 2)
    assert(served.select("agg_marker").collect()(0).getLong(0) == 2L)
  }

  test("sales levels: ticket/group are separate manifest keys and " +
    "stores; day raises NotImplemented; dates validate") {
    val root = Files.createTempDirectory("posq").toString
    val q = new PosQueries(spark, root)
    val c = new Counters
    val st = stages(c, () => c.aggregate.toLong)

    q.getSales(st, "2025-01-01", "2025-01-31", level = "ticket")
    assert((c.download, c.clean, c.aggregate) == ((1, 1, 1)))
    // group level shares raw+clean manifests, aggregates separately
    q.getSales(st, "2025-01-01", "2025-01-31", level = "group")
    assert((c.download, c.clean, c.aggregate) == ((1, 1, 2)))

    val e = intercept[ConfigError](
      q.getSales(st, "2025-01-01", "2025-01-31", level = "day"))
    assert(e.getMessage.contains("not yet implemented"))
    intercept[ConfigError](
      q.getSales(st, "2025-01-01", "2025-01-31", level = "week"))
    intercept[ConfigError](
      q.getSales(st, "01/02/2025", "2025-01-31"))
  }

  test("faithful quirk: the constant payments store name lets an " +
    "interleaved range overwrite what an earlier range serves") {
    val root = Files.createTempDirectory("posq").toString
    val q = new PosQueries(spark, root)
    val c = new Counters
    val st = stages(c, () => c.aggregate.toLong)
    q.getPayments(st, "2025-01-01", "2025-01-31") // marker 1
    q.getPayments(st, "2025-02-01", "2025-02-28") // marker 2 overwrites
    // January's manifests are all still ok -> serves FEBRUARY's store
    // (exactly the reference's aggregated_payments_daily.csv behavior;
    // refresh=true or disjoint roots are the caller's escape hatches)
    val served = q.getPayments(st, "2025-01-01", "2025-01-31")
    assert(c.aggregate == 2)
    assert(served.select("agg_marker").collect()(0).getLong(0) == 2L)
    // refresh recomputes the requested range
    val fresh = q.getPayments(st, "2025-01-01", "2025-01-31",
      refresh = true)
    assert(fresh.select("agg_marker").collect()(0).getLong(0) == 3L)
  }

  test("a failed tip check leaves the stored mart untouched and the " +
    "aggregate manifest failed") {
    val root = Files.createTempDirectory("posq").toString
    val s = spark
    import s.implicits._
    val (start, end) = ("2025-01-01", "2025-01-10")
    /** A silver store of 10 days: two tickets a day, whose tips sum to
      * the embedded day total except on `badDay`, off by 1000. */
    def silver(badDay: Option[String]): Unit =
      (0 until 10).flatMap { i =>
        val d = java.time.LocalDate.parse(start).plusDays(i.toLong).toString
        val dayTips = if (badDay.contains(d)) 1012.0 else 12.0
        Seq(("Kavia", d, 2L * i, "Efectivo", 100.0, 7.0, dayTips, false),
          ("Kavia", d, 2L * i + 1, "Tarjeta Crédito", 50.0, 5.0, dayTips,
            false))
      }.toDF("sucursal", "operating_date", "order_index", "payment_method",
        "ticket_total", "ticket_tip", "total_day_tips",
        "elimination_present")
        .withColumn("operating_date", $"operating_date".cast("date"))
        .write.mode("overwrite").partitionBy("operating_date")
        .parquet(s"$root/clean/payments/data")
    val stages = Main.defaultStages(spark, root, 180, Nil,
      (_, _, _) => Array.empty[Byte]).copy(
      download = (_, _) => (), clean = (_, _) => ())
    val q = new PosQueries(spark, root)
    silver(None)
    assert(q.getPayments(stages, start, end).count() == 10)
    val mart = java.nio.file.Paths.get(
      s"$root/proc/payments/aggregated_payments_daily")
    def snapshot(): Map[String, (Long, Seq[Byte])] = {
      val files = Files.list(mart)
      try files.iterator().asScala.map { p =>
        p.getFileName.toString ->
          (Files.getLastModifiedTime(p).toMillis, Files.readAllBytes(p).toSeq)
      }.toMap
      finally files.close()
    }
    val before = snapshot()
    silver(Some("2025-01-07"))
    val e = intercept[DataQualityError](
      q.getPayments(stages, start, end, refresh = true))
    assert(e.getMessage.contains("tip reconciliation failed"), e)
    assert(e.getMessage.contains("2025-01-07"), e)
    assert(!e.getMessage.contains("2025-01-06"), e)
    assert(new StageManifests(s"$root/proc/payments").read(start, end)
      .map(_.status).contains("failed"))
    assert(snapshot() == before)
  }

  test("getPaymentsForecast wraps a malformed asOf in ConfigError") {
    val root = Files.createTempDirectory("posq").toString
    val q = new PosQueries(spark, root)
    val c = new Counters
    intercept[ConfigError](q.getPaymentsForecast(
      stages(c, () => 0L), asOf = "02/04/2025", horizonWeeks = 1))
  }

  test("getPaymentsForecast: 3-year lookback window, weeks -> days, " +
    "forecast frame only") {
    val root = Files.createTempDirectory("posq").toString
    val q = new PosQueries(spark, root)
    val c = new Counters
    val s = spark
    import s.implicits._
    // a 35-day mart so the >=30-obs guard passes
    val st = PosQueries.EtlStages(
      download = (a, b) => { c.download += 1; c.downloadRanges += ((a, b)) },
      clean = (_, _) => c.clean += 1,
      aggregate = (_, _) => {
        c.aggregate += 1
        (0 until 35).map { i =>
          ("Kavia",
            java.time.LocalDate.parse("2025-01-01").plusDays(i.toLong)
              .toString, 100.0 + i, 50.0, 25.0)
        }.toDF("sucursal", "fecha", "ingreso_efectivo",
          "ingreso_credito", "ingreso_debito")
      })
    val fc = q.getPaymentsForecast(st, asOf = "2025-02-04",
      horizonWeeks = 2)
    // 1 branch x 4 metrics x 14 days
    assert(fc.count() == 56)
    assert(fc.columns.toSet ==
      Set("sucursal", "fecha", "metric", "valor"))
    // history window start = asOf - 3*365 DAYS (queries.py:274 uses
    // timedelta(days=3*365), so a leap year shifts the calendar date)
    assert(c.downloadRanges.head == (("2022-02-05", "2025-02-04")))
  }
}
