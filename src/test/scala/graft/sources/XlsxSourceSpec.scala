package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 xlsx format: `spark.read.format("xlsx")` must
  * deliver the bronze grid of the sheet the reference's lookup rules
  * pick, one partition per workbook, with column pruning reaching the
  * reader and an explicit schema skipping inference. */
class XlsxSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def writeWorkbooks(): String = {
    val dir = Files.createTempDirectory("xlsx_dsv2").toFile
    Files.write(new java.io.File(dir, "a.xlsx").toPath,
      Xlsx.writeBytes(Seq("Pagos" -> Seq(
        Seq("Fecha", "Total"),
        Seq("15/01/2025", 1234.56)))))
    Files.write(new java.io.File(dir, "b.xlsx").toPath,
      Xlsx.writeBytes(Seq("Resumen" -> Seq(Seq("x")),
        "Pagos" -> Seq(
          Seq("Fecha", "Total", "Nota"),
          Seq("16/01/2025", "5,000.00", "ok")))))
    dir.getAbsolutePath
  }

  test("format(xlsx) delivers the widest bronze grid, sheet rules included") {
    val dir = writeWorkbooks()
    val ds = spark.read.format("xlsx").option("sheet", "Pagos").load(dir)
    // 3-wide grid: b.xlsx's Pagos has 3 columns → width governs
    assert(ds.columns.toSeq == Seq("_file", "_row", "_c0", "_c1", "_c2"))
    val got = ds.collect().map(r => (
      r.getAs[String]("_file").split('/').last,
      r.getAs[Long]("_row"),
      r.getAs[String]("_c0"), r.getAs[String]("_c1"),
      r.getAs[String]("_c2"))).toSet
    assert(got == Set(
      ("a.xlsx", 0L, "Fecha", "Total", null),
      ("a.xlsx", 1L, "15/01/2025", "1234.56", null),
      ("b.xlsx", 0L, "Fecha", "Total", "Nota"),
      ("b.xlsx", 1L, "16/01/2025", "5,000.00", "ok")))
    // one partition per workbook
    assert(ds.rdd.getNumPartitions == 2)
  }

  test("column pruning reaches the reader; explicit schema skips inference") {
    val dir = writeWorkbooks()
    val pruned = spark.read.format("xlsx").option("sheet", "Pagos")
      .load(dir).select("_c1")
    assert(pruned.collect().map(_.getString(0)).toSet ==
      Set("Total", "1234.56", "5,000.00"))
    // the physical scan's read schema carries only the pruned column
    val scanLine = pruned.queryExecution.executedPlan.toString
    assert(scanLine.contains("_c1") && !scanLine.contains("_c2"), scanLine)
    // explicit (narrower) schema: no inference parse, width as given
    val explicit = spark.read.format("xlsx").option("sheet", "Pagos")
      .schema(XlsxDataSource.gridSchema(2)).load(dir)
    assert(explicit.columns.toSeq == Seq("_file", "_row", "_c0", "_c1"))
    assert(explicit.count() == 4)
  }

  test("missing sheet fails with the available names in the message") {
    val dir = writeWorkbooks()
    val e = intercept[Exception] {
      spark.read.format("xlsx").option("sheet", "Nope").load(dir).collect()
    }
    assert(e.getMessage.contains("Nope") || e.getCause != null)
  }

  test("dated workbook round-trips: date serials decode through the " +
    "DSv2 reader") {
    val dir = Files.createTempDirectory("xlsx-dates").toFile.getPath
    val bytes = Xlsx.writeBytes(Seq("Fechas" -> Seq(
      Seq("Fecha", "Momento", "Importe"),
      Seq(java.time.LocalDate.of(2025, 1, 15),
        java.time.LocalDateTime.of(2025, 1, 15, 14, 30, 0), 12.5),
      Seq(java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 23:59:59"), 7.0))))
    Files.write(java.nio.file.Paths.get(dir, "dated.xlsx"), bytes)
    val rows = spark.read.format("xlsx").option("sheet", "Fechas")
      .load(dir).orderBy("_row").collect()
    assert(rows(1).getString(2) == "2025-01-15")
    assert(rows(1).getString(3) == "2025-01-15 14:30:00")
    assert(rows(2).getString(2) == "2024-02-29") // leap day exact
    assert(rows(2).getString(3) == "2024-02-29 23:59:59")
    // non-date numerics untouched
    assert(rows(1).getString(4) == "12.5")
  }
}
