package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Dependency-free xlsx reader/writer (S6/S13): round trips, a
  * hand-authored shared-strings workbook (the shape pandas/openpyxl
  * and Wansoft exports produce), reference sheet-finder rules, and the
  * bronze e2e into PaymentsCleaner. */
class XlsxSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("writer → reader round trip preserves strings, numbers, gaps") {
    val rows: Seq[Seq[Any]] = Seq(
      Seq("Reporte de pagos", null, "Café & <Té>"),
      Seq(),                                  // empty row
      Seq("Fecha", "Total", "Nota"),
      Seq("15/01/2025", 1234.56, "año \"raro\""),
      Seq("2025-01-16", "5,000.00", null))    // EU money stays a string
    val bytes = Xlsx.writeBytes(Seq("Hoja1" -> rows))
    val wb = Xlsx.read(bytes)
    assert(wb.sheetNames == Seq("Hoja1"))
    val g = wb.grid("Hoja1")
    assert(g(0)(0) == "Reporte de pagos")
    assert(g(0)(2) == "Café & <Té>")
    assert(g(1).forall(_ == null))            // gap row dense-filled
    assert(g(3)(1) == "1234.56")              // number round trips
    assert(g(3)(2) == "año \"raro\"")
    assert(g(4)(1) == "5,000.00")             // grouped money stays text
    assert(g(4)(2) == null)
  }

  test("reads shared strings, sparse refs, booleans, rich text") {
    // hand-built workbook exercising what OUR writer never emits:
    // sharedStrings (incl. a rich-text run), skipped rows/cells via
    // explicit refs, booleans, and an absolute rel target
    def z(parts: (String, String)*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val zo = new java.util.zip.ZipOutputStream(bos)
      parts.foreach { case (n, body) =>
        zo.putNextEntry(new java.util.zip.ZipEntry(n))
        zo.write(body.getBytes("UTF-8"))
        zo.closeEntry()
      }
      zo.close()
      bos.toByteArray
    }
    val bytes = z(
      "xl/workbook.xml" ->
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
             xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
           <sheets><sheet name="Detalle por Forma de Pago" sheetId="1" r:id="rId1"/></sheets>
           </workbook>""",
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           <Relationship Id="rId1" Type="w" Target="/xl/worksheets/sheet1.xml"/>
           </Relationships>""",
      "xl/sharedStrings.xml" ->
        """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">
           <si><t>Forma de pago</t></si>
           <si><r><t>Tarjeta </t></r><r><t>Crédito</t></r></si>
           <si><t xml:space="preserve"> spaced </t></si>
           </sst>""",
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
           <row r="2"><c r="B2" t="s"><v>0</v></c><c r="D2"><v>42</v></c></row>
           <row r="4"><c r="A4" t="s"><v>1</v></c><c r="B4" t="b"><v>1</v></c>
             <c r="C4" t="s"><v>2</v></c><c r="D4" t="inlineStr"><is><t>in</t><t>line</t></is></c></row>
           </sheetData></worksheet>""")
    val wb = Xlsx.read(bytes)
    val g = wb.grid("Detalle por Forma de Pago")
    assert(g.length == 4)                       // dense to max row 4
    assert(g(0).forall(_ == null))              // row 1 absent in xml
    assert(g(1)(1) == "Forma de pago")          // B2 shared string
    assert(g(1)(3) == "42")                     // D2 number
    assert(g(2).forall(_ == null))              // row 3 absent
    assert(g(3)(0) == "Tarjeta Crédito")        // rich-text concat
    assert(g(3)(1) == "TRUE")                   // boolean
    assert(g(3)(2) == " spaced ")               // xml:space preserved
    assert(g(3)(3) == "inline")                 // inline runs concat
  }

  test("sheet finder: exact case-insensitive beats substring") {
    val names = Seq("Resumen", "detalle por forma de pago ",
      "Detalle por forma de pago (2)")
    // exact (trimmed, case-insensitive) wins over the substring hit
    assert(Xlsx.findSheet(names, "Detalle por forma de pago")
      .contains("detalle por forma de pago "))
    assert(Xlsx.findSheet(names, "forma de pago")
      .contains("detalle por forma de pago "))
    assert(Xlsx.findSheet(names, "Pagos Eliminados").isEmpty)
  }

  test("column letters round trip") {
    for (c <- Seq(0, 1, 25, 26, 27, 51, 52, 701, 702))
      assert(Xlsx.colOf(Xlsx.colLetters(c) + "1") == c)
  }

  test("bronze grid e2e: xlsx file → format(xlsx) → PaymentsCleaner") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("xlsx_bronze")
    val rows: Seq[Seq[Any]] = Seq(
      Seq("Reporte de pagos"),
      Seq(),
      Seq("Fecha", "Orden", "Forma de pago", "Propina", "Total",
        "Propina", "Total", "Cajero"),
      Seq("2025-01-15", "1001", "Efectivo", "25.00", "5,000.00",
        "10.00", "1.234,56", "Juan"),
      Seq("15/01/2025", "1002", "Tarjeta Crédito ", "25.00",
        "5,000.00", "5.00", "(100.00)", "Juan"),
      Seq(),
      Seq("", "Total general"))
    val f = dir.resolve("export.xlsx")
    val fos = new java.io.FileOutputStream(f.toFile)
    try Xlsx.write(Seq(
      "Resumen" -> Seq(Seq("ignored")),
      "Detalle por forma de pago" -> rows), fos)
    finally fos.close()
    val grid = s.read.format("xlsx").option("sheet", "detalle por forma")
      .load(dir.toString).drop("_file")
    val out = graft.pos.staging.PaymentsCleaner.clean(grid, "Kavia_OLD")
    val got = out.orderBy(out("order_index")).collect()
    assert(got.length == 2)
    assert(got(0).getAs[String]("sucursal") == "Kavia")
    assert(got(0).getAs[Long]("order_index") == 1001L)
    assert(got(0).getAs[Double]("day_total") == 5000.0)
    assert(got(0).getAs[Double]("ticket_total") == 1234.56)
    assert(got(1).getAs[java.sql.Date]("operating_date").toString
      == "2025-01-15")
    assert(got(1).getAs[Double]("ticket_total") == -100.0)
    assert(got(1).getAs[String]("payment_method") == "Tarjeta Crédito")
  }

  test("PaymentsXlsx.clean: full workbook flow incl. eliminations sheet") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("xlsx_full")
    val detail: Seq[Seq[Any]] = Seq(
      Seq("Reporte de pagos"),
      Seq(),
      Seq("Fecha", "Orden", "Forma de pago", "Propina", "Total",
        "Propina", "Total", "Cajero"),
      Seq("2025-01-15", "1001", "Efectivo", "25.00", "5,000.00",
        "10.00", "1.234,56", "Juan"),
      Seq("15/01/2025", "1002", "Tarjeta", "25.00",
        "5,000.00", "5.00", "(100.00)", "Juan"))
    // eliminations: junk above, header with "Fecha de operación" in
    // the B..L block, one matching and one non-matching record
    val elim: Seq[Seq[Any]] = Seq(
      Seq("Pagos eliminados del periodo"),
      Seq(),
      Seq(null, "Fecha de operación", "Orden", "Forma de pago"),
      Seq(null, "2025-01-15", "1002", "Efectivo"),
      Seq(null, "2025-01-20", "9999", "Efectivo"))
    val f = dir.resolve("export.xlsx")
    val fos = new java.io.FileOutputStream(f.toFile)
    try Xlsx.write(Seq(
      "Detalle por forma de pago" -> detail,
      "Pagos Eliminados" -> elim), fos)
    finally fos.close()
    val out = graft.pos.staging.PaymentsXlsx.clean(s, dir.toString, "Kavia")
    val flags = out.select("order_index", "elimination_present")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags == Map(1001L -> false, 1002L -> true))
  }

  test("PaymentsXlsx.clean: workbook without eliminations sheet") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("xlsx_noelim")
    val detail: Seq[Seq[Any]] = Seq(
      Seq("Fecha", "Orden", "Forma de pago", "Propina", "Total"),
      Seq("2025-01-15", "1001", "Efectivo", "25.00", "100.00"))
    val f = dir.resolve("export.xlsx")
    val fos = new java.io.FileOutputStream(f.toFile)
    try Xlsx.write(Seq("Detalle por forma de pago" -> detail), fos)
    finally fos.close()
    val out = graft.pos.staging.PaymentsXlsx.clean(s, dir.toString, "K")
    val rows = out.collect()
    assert(rows.length == 1)
    assert(!rows(0).getAs[Boolean]("elimination_present"))
  }

  test("SalesXlsx + TransfersXlsx: sheet rules and cleaner e2e") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("xlsx_sales")
    val sales: Seq[Seq[Any]] = Seq(
      Seq("Reporte"),
      Seq("Sucursal: Plaza-Nativa"),
      Seq("Día", "Fecha de operación", "Orden", "Grupo",
        "¿Es modificador?", "Cantidad", "Subtotal", "IVA", "Total",
        "Subtotal", "IVA", "Total"),
      Seq("Miércoles", "15/01/2025", "1001", "CAFE", "No",
        "1", "100.00", "16.00", "116.00", "45.00", "7.20", "52.20"))
    // a second export from another branch: its own Sucursal line, and
    // its header one row lower
    val sales2: Seq[Seq[Any]] = Seq(Seq("Reporte"), Seq(),
      Seq("Sucursal: Kavia_OLD")) ++ sales.drop(2).map(_.map {
        case "1001" => "2002"
        case v => v
      })
    def writeSales(name: String, rows: Seq[Seq[Any]]): Unit = {
      val fos = new java.io.FileOutputStream(dir.resolve(name).toFile)
      try Xlsx.write(Seq("detalle de ventas " -> rows), fos)
      finally fos.close()
    }
    writeSales("ventas.xlsx", sales)
    writeSales("ventas2.xlsx", sales2)
    val sOut = graft.pos.staging.SalesXlsx.clean(s, dir.toString)
    val sRows = sOut.collect()
    assert(sRows.length == 2)
    assert(sRows.map(r => r.getAs[String]("order_id") ->
      r.getAs[String]("sucursal")).toMap ==
      Map("1001" -> "Plaza Nativa", "2002" -> "Kavia"))
    assert(sRows.forall(_.getAs[Double]("subtotal_item") == 45.0))

    // transfers: no "Transferencias" sheet → FIRST sheet wins
    val tDir = java.nio.file.Files.createTempDirectory("xlsx_transf")
    val transfers: Seq[Seq[Any]] = Seq(
      Seq("Transferencias entre almacenes"),
      Seq("Orden", "Almacén origen", "Sucursal destino",
        "Almacén destino", "Fecha", "Estatus", "Cantidad",
        "Departamento", "Clave", "Producto", "Presentación", "Costo",
        "IVA", "IEPS", "Costo", "IVA", "IEPS"),
      Seq("T-1001", "ALMACEN GENERAL", "PANEM - HOTEL KAVIA N",
        "ALMACEN KAVIA", "2025-09-08", "Enviada", "12", "ABARROTES",
        "P001", "Harina 10kg", "Saco", "480.00", "76.80", "0.00",
        "40.00", "6.40", "0.00"))
    val tf = tDir.resolve("transfer.xlsx")
    val tfs = new java.io.FileOutputStream(tf.toFile)
    try Xlsx.write(Seq("Hoja1" -> transfers), tfs)
    finally tfs.close()
    val tOut = graft.pos.staging.TransfersXlsx.clean(s, tDir.toString)
    val tRows = tOut.collect()
    assert(tRows.length == 1)
    assert(tRows(0).getAs[Double]("costo") == 480.0)
    assert(tRows(0).getAs[Double]("iva_total") == 12.0 * 6.4)
  }

  test("multi-workbook dir: per-file headers and eliminations stay separate") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("xlsx_multi")
    // file A: header on sheet row 3, has an eliminations sheet
    val a: Seq[Seq[Any]] = Seq(
      Seq("Reporte"), Seq(),
      Seq("Fecha", "Orden", "Forma de pago", "Propina", "Total"),
      Seq("2025-01-15", "1001", "Efectivo", "1.00", "100.00"))
    val aElim: Seq[Seq[Any]] = Seq(
      Seq(null, "Fecha de operación", "Orden"),
      Seq(null, "2025-01-15", "1001"))
    // file B: header on sheet row 1 (no junk above), NO eliminations,
    // and a row with the same (Fecha, Orden) as file A's eliminated one
    val b: Seq[Seq[Any]] = Seq(
      Seq("Fecha", "Orden", "Forma de pago", "Propina", "Total"),
      Seq("2025-01-16", "2002", "Tarjeta", "2.00", "200.00"),
      Seq("2025-01-15", "1001", "Tarjeta", "3.00", "300.00"))
    def writeWb(name: String, sheets: Seq[(String, Seq[Seq[Any]])]): Unit = {
      val fos = new java.io.FileOutputStream(dir.resolve(name).toFile)
      try Xlsx.write(sheets, fos) finally fos.close()
    }
    writeWb("a.xlsx", Seq("Detalle por forma de pago" -> a,
      "Pagos Eliminados" -> aElim))
    writeWb("b.xlsx", Seq("Detalle por forma de pago" -> b))
    val out = graft.pos.staging.PaymentsXlsx.clean(s, dir.toString, "K")
    val rows = out.collect().map(r =>
      (r.getAs[Long]("order_index"), r.getAs[Double]("day_total"),
        r.getAs[Boolean]("elimination_present"))).sortBy(r => (r._1, r._2))
    // both files' fact rows survive their own header offsets, and
    // file A's eliminations flag only file A's order
    assert(rows.toSeq == Seq((1001L, 100.0, true), (1001L, 300.0, false),
      (2002L, 200.0, false)))
  }

  test("PaymentsXlsx.clean + partitioned write: the job count does not " +
    "grow with the number of workbooks") {
    val s = spark
    def jobsFor(workbooks: Int): Int = {
      val dir = java.nio.file.Files.createTempDirectory("xlsx_jobs")
      for (w <- 1 to workbooks) {
        val day = f"2025-01-$w%02d"
        val detail: Seq[Seq[Any]] = Seq(Seq("Reporte"), Seq(),
          Seq("Fecha", "Orden", "Forma de pago", "Propina", "Total"),
          Seq(day, s"${w}01", "Efectivo", "1.00", "100.00"),
          Seq(day, s"${w}02", "Tarjeta", "1.00", "50.00"))
        val elim: Seq[Seq[Any]] = Seq(
          Seq(null, "Fecha de operación", "Orden"), Seq(null, day, s"${w}02"))
        val fos = new java.io.FileOutputStream(
          dir.resolve(s"pagos_$w.xlsx").toFile)
        try Xlsx.write(Seq("Detalle por forma de pago" -> detail,
          "Pagos Eliminados" -> elim), fos)
        finally fos.close()
      }
      val out = java.nio.file.Files.createTempDirectory("xlsx_jobs_out")
      val (_, jobs) = graft.JobCount(s, s"xlsx-jobs-$workbooks") {
        graft.pos.staging.PaymentsXlsx.clean(s, dir.toString, "K")
          .write.mode("overwrite").partitionBy("operating_date")
          .parquet(out.resolve("data").toString)
      }
      assert(s.read.parquet(out.resolve("data").toString)
        .filter("elimination_present").count() == workbooks)
      jobs
    }
    val one = jobsFor(1)
    val three = jobsFor(3)
    assert(one == three, s"1 workbook: $one jobs, 3 workbooks: $three jobs")
  }

  test("S13 edge export: mart DataFrame → xlsx → re-read") {
    val s = spark
    import s.implicits._
    val mart = Seq(("2025-01-15", "Kavia", 5000.0, 12L),
      ("2025-01-16", "Marina", 61234.5, 9L))
      .toDF("fecha", "sucursal", "ingresos", "tickets")
    val f = java.nio.file.Files.createTempFile("mart", ".xlsx")
    Xlsx.writeSheetFile(mart, "Pagos Diarios", f.toString)
    val g = Xlsx.read(java.nio.file.Files.readAllBytes(f))
      .grid("Pagos Diarios")
    assert(g(0) == Vector("fecha", "sucursal", "ingresos", "tickets"))
    assert(g(1) == Vector("2025-01-15", "Kavia", "5000.0", "12"))
    assert(g(2)(2) == "61234.5")
  }

  test("format-code classifier: dates, times, money, quoted literals") {
    assert(Xlsx.formatDateKind("dd/mm/yyyy").contains(Xlsx.DateOnly))
    assert(Xlsx.formatDateKind("[$-409]d-mmm-yy").contains(Xlsx.DateOnly))
    assert(Xlsx.formatDateKind("hh:mm").contains(Xlsx.TimeOnly))
    assert(Xlsx.formatDateKind("mm:ss").contains(Xlsx.TimeOnly))
    assert(Xlsx.formatDateKind("yyyy-mm-dd hh:mm")
      .contains(Xlsx.DateAndTime))
    assert(Xlsx.formatDateKind("#,##0.00").isEmpty)
    assert(Xlsx.formatDateKind("0.00%").isEmpty)
    // y/d inside quoted literals are text, not placeholders
    assert(Xlsx.formatDateKind("\"day total\" 0.00").isEmpty)
    // elapsed-duration brackets are TIME even though the [...] strip
    // removes them (POI isADateFormat keeps [h]/[m]/[s])
    assert(Xlsx.formatDateKind("[h]:mm").contains(Xlsx.TimeOnly))
    assert(Xlsx.formatDateKind("[hh]:mm:ss").contains(Xlsx.TimeOnly))
    assert(Xlsx.formatDateKind("[mm]:ss").contains(Xlsx.TimeOnly))
    // color/condition blocks are not elapsed markers
    assert(Xlsx.formatDateKind("[Red]#,##0.00").isEmpty)
    assert(Xlsx.formatDateKind("[>=100]0.00").isEmpty)
    // a literal "[h]" inside quotes is text, not an elapsed marker
    assert(Xlsx.formatDateKind("0.00\" [h]\"").isEmpty)
  }

  test("writer datetime serials are arithmetic, not concatenated " +
    "(negative pre-1900 serials round-trip)") {
    val preEpoch = java.time.LocalDateTime.of(1899, 12, 29, 18, 0, 0)
    val modern = java.time.LocalDateTime.of(2025, 1, 1, 14, 30, 0)
    val bytes = Xlsx.writeBytes(Seq("Hoja1" -> Seq(
      Seq[Any](preEpoch, modern))))
    val g = Xlsx.read(bytes).grid("Hoja1")
    // -1 + 0.75 must serialize as -0.25 (NOT "-1" ++ ".75" = -1.75)
    assert(g(0)(0) == "1899-12-29 18:00:00", g(0)(0))
    assert(g(0)(1) == "2025-01-01 14:30:00", g(0)(1))
  }

  test("serial decoding: builtin styles, custom numFmt, date1904, " +
    "and string-path parity through the cleaner") {
    def z(parts: (String, String)*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val zo = new java.util.zip.ZipOutputStream(bos)
      parts.foreach { case (n, body) =>
        zo.putNextEntry(new java.util.zip.ZipEntry(n))
        zo.write(body.getBytes("UTF-8"))
        zo.closeEntry()
      }
      zo.close()
      bos.toByteArray
    }
    def wb(date1904: Boolean, sheetXml: String): Array[Byte] = z(
      "xl/workbook.xml" ->
        s"""<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
             xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
           <workbookPr date1904="${if (date1904) "1" else "0"}"/>
           <sheets><sheet name="Datos" sheetId="1" r:id="rId1"/></sheets>
           </workbook>""",
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           <Relationship Id="rId1" Type="w" Target="/xl/worksheets/sheet1.xml"/>
           </Relationships>""",
      "xl/styles.xml" ->
        // xf0 general, xf1 builtin date 14, xf2 CUSTOM dd/mm/yyyy,
        // xf3 builtin datetime 22, xf4 custom money (NOT a date)
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
           <numFmts count="2">
             <numFmt numFmtId="164" formatCode="dd/mm/yyyy"/>
             <numFmt numFmtId="165" formatCode="&quot;$&quot;#,##0.00"/>
           </numFmts>
           <cellXfs count="5"><xf numFmtId="0"/>
             <xf numFmtId="14" applyNumberFormat="1"/>
             <xf numFmtId="164" applyNumberFormat="1"/>
             <xf numFmtId="22" applyNumberFormat="1"/>
             <xf numFmtId="165" applyNumberFormat="1"/></cellXfs>
           </styleSheet>""",
      "xl/worksheets/sheet1.xml" -> sheetXml)

    // 45658 = 2025-01-01 in the 1900 system
    val g = Xlsx.read(wb(date1904 = false,
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
         <row r="1"><c r="A1" s="1"><v>45658</v></c>
           <c r="B1" s="2"><v>45658</v></c>
           <c r="C1" s="3"><v>45658.604166666664</v></c>
           <c r="D1" s="4"><v>45658</v></c>
           <c r="E1"><v>45658</v></c></row>
         </sheetData></worksheet>""")).grid("Datos")
    assert(g(0)(0) == "2025-01-01")           // builtin date
    assert(g(0)(1) == "2025-01-01")           // custom dd/mm/yyyy
    assert(g(0)(2) == "2025-01-01 14:30:00")  // datetime w/ fraction
    assert(g(0)(3) == "45658")                // money style: raw
    assert(g(0)(4) == "45658")                // unstyled: raw

    // date1904 workbooks rebase: 44196 = 2025-01-01 in the 1904 system
    val g4 = Xlsx.read(wb(date1904 = true,
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
         <row r="1"><c r="A1" s="1"><v>44196</v></c></row>
         </sheetData></worksheet>""")).grid("Datos")
    assert(g4(0)(0) == "2025-01-01")

    // the decoded ISO string parses through the multi-format cleaner
    // IDENTICALLY to the reference's string path ("01/01/2025")
    val s = spark
    import s.implicits._
    val parsed = Seq(g(0)(0), "01/01/2025").toDF("d")
      .select(graft.functions.Cleaning.parseDateMulti($"d").as("p"))
      .collect().map(_.getDate(0).toString)
    assert(parsed.toSet == Set("2025-01-01"))
  }
}
