package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, OutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Dependency-free XLSX reader/writer (SURVEY §2.1 S6/S13) built on
  * the JDK's `java.util.zip` + StAX — an .xlsx file is a zip of small
  * XML parts, so no POI is needed for the bronze contract.
  *
  * Reader semantics mirror the reference's pandas path
  * (`payments_cleaner.py:82-91,285-316`): list sheet names, pick one
  * case-insensitively (exact then substring), and deliver the sheet as
  * a dense row-indexed grid of raw cell strings — the same
  * `(_row, _c0.._cN)` bronze shape the staging cleaners consume.
  * Handles shared strings (incl. rich-text runs), inline strings,
  * numbers, booleans, sparse rows/cells (dense-filled with nulls), and
  * both `r`-attributed and positional rows/cells.
  *
  * Scale design: ONE export workbook is a bounded artifact (a day's
  * report), so parsing happens per file inside executors via the
  * `binaryFile` source + flatMap ([[Xlsx.scanWorkbooks]]) — many files
  * parallelize across the cluster, and no workbook is ever collected
  * to the driver.
  */
object Xlsx {

  // ------------------------------------------------------------ read
  final case class Workbook(sheets: Seq[(String, Vector[Vector[String]])]) {
    def sheetNames: Seq[String] = sheets.map(_._1)
    def grid(name: String): Vector[Vector[String]] =
      sheets.find(_._1 == name).map(_._2)
        .getOrElse(sys.error(s"no sheet '$name'"))
    /** The sheet [[findSheet]] picks for `target`. */
    def gridLike(target: String): Vector[Vector[String]] =
      grid(findSheet(sheetNames, target).getOrElse(sys.error(
        s"Sheet like '$target' not found. " +
          s"Available: ${sheetNames.mkString(", ")}")))
  }

  /** Reference sheet lookup: exact case-insensitive match first, then
    * substring (payments_cleaner.py:82-91). */
  def findSheet(names: Seq[String], target: String): Option[String] = {
    val t = target.toLowerCase
    names.find(_.toLowerCase.trim == t)
      .orElse(names.find(_.toLowerCase.contains(t)))
  }

  private def entries(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.Map.empty[String, Array[Byte]]
    try {
      var e: ZipEntry = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) out(e.getName) = zin.readAllBytes()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toMap
  }

  private val xif: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    // untrusted input: no DTDs, no external entities
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  // ------------------------------------------------ date-serial styles
  /** What a numFmt renders: date, time-of-day, or both. */
  private[sources] sealed trait DateKind
  private[sources] case object DateOnly extends DateKind
  private[sources] case object TimeOnly extends DateKind
  private[sources] case object DateAndTime extends DateKind

  /** Per-cell-style date decoding context parsed from `xl/styles.xml`
    * (+ the workbook's date1904 flag): `kinds(s)` answers whether
    * cell-style index `s` formats its numeric value as a date serial.
    * Wansoft exports carry no date cells, but `format("xlsx")` is a
    * public surface now — any real workbook with typed date columns
    * hits this path. */
  private[sources] final case class XlsxStyles(
      kinds: Vector[Option[DateKind]], date1904: Boolean) {
    def kindOf(styleIdx: Int): Option[DateKind] =
      if (styleIdx >= 0 && styleIdx < kinds.length) kinds(styleIdx)
      else None
  }
  private[sources] val NoStyles = XlsxStyles(Vector.empty, date1904 = false)

  /** Builtin numFmtIds that render date serials (ECMA-376 §18.8.30). */
  private def builtinDateKind(id: Int): Option[DateKind] = id match {
    case i if (14 to 17).contains(i) => Some(DateOnly)
    case i if (18 to 21).contains(i) => Some(TimeOnly)
    case 22 => Some(DateAndTime)
    case i if (27 to 36).contains(i) => Some(DateOnly) // East-Asian dates
    case i if (45 to 47).contains(i) => Some(TimeOnly)
    case i if (50 to 58).contains(i) => Some(DateOnly)
    case _ => None
  }

  /** Custom format-code classifier (the POI `isADateFormat` shape):
    * strip quoted literals, `[...]` blocks and `\`-escapes, then look
    * for date/time placeholder letters. A lone `m` next to `h`/`s`
    * context is a minute, not a month. */
  private[sources] def formatDateKind(code: String): Option[DateKind] = {
    // quoted literals and escapes are text everywhere — strip them
    // FIRST so a literal "[h]" inside quotes can't read as elapsed
    val noQuotes = code
      .replaceAll("\"[^\"]*\"", "")
      .replaceAll("\\\\.", "")
    // elapsed-duration brackets ([h]:mm, [mm]:ss — worked-hours
    // formats) are TIME markers and must be seen BEFORE the general
    // [...] strip removes them (POI's isADateFormat does the same);
    // color/condition blocks like [Red] or [>=100] don't match
    val elapsed =
      "\\[(h+|m+|s+)\\]".r.findFirstIn(noQuotes.toLowerCase).isDefined
    val stripped = noQuotes
      .replaceAll("\\[[^\\]]*\\]", "")
      .toLowerCase
    val hasTime = elapsed || stripped.contains('h') ||
      (stripped.contains('s') && stripped.contains(':'))
    val hasDate = stripped.contains('y') || stripped.contains('d') ||
      (stripped.contains('m') && !hasTime)
    (hasDate, hasTime) match {
      case (true, true)  => Some(DateAndTime)
      case (true, false) => Some(DateOnly)
      case (false, true) => Some(TimeOnly)
      case _             => None
    }
  }

  /** styles.xml → per-cellXf date kind (custom `numFmts` first, then
    * the builtin table). */
  private def parseStyles(xml: Array[Byte]): Vector[Option[DateKind]] = {
    val r = xif.createXMLStreamReader(new ByteArrayInputStream(xml))
    val custom = mutable.Map.empty[Int, Option[DateKind]]
    val xfs = Vector.newBuilder[Option[DateKind]]
    var inCellXfs = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "numFmt" =>
                val id = r.getAttributeValue(null, "numFmtId")
                val code = r.getAttributeValue(null, "formatCode")
                if (id != null && code != null)
                  custom(id.toInt) = formatDateKind(code)
              case "cellXfs" => inCellXfs = true
              case "xf" if inCellXfs =>
                val fmt = Option(r.getAttributeValue(null, "numFmtId"))
                  .map(_.toInt).getOrElse(0)
                xfs += custom.getOrElse(fmt, builtinDateKind(fmt))
              case _ => ()
            }
          case XMLStreamConstants.END_ELEMENT =>
            if (r.getLocalName == "cellXfs") inCellXfs = false
          case _ => ()
        }
      }
    } finally r.close()
    xfs.result()
  }

  /** Excel serial → grid string. Serials count days from 1899-12-30
    * (the 1900-leap-bug-compatible base every reader uses) or
    * 1904-01-01 in date1904 workbooks; the fraction is time-of-day.
    * Date-kinded cells with a midnight fraction render as bare ISO
    * dates — the shape `to_date` parses directly; a nonzero time
    * appends ` HH:mm:ss`. */
  private[sources] def serialToString(serial: Double, kind: DateKind,
                                      date1904: Boolean): String = {
    val base = if (date1904) java.time.LocalDate.of(1904, 1, 1)
               else java.time.LocalDate.of(1899, 12, 30)
    var days = math.floor(serial).toLong
    var secs = math.round((serial - days) * 86400.0)
    if (secs >= 86400) { days += 1; secs = 0 } // rounding rollover
    kind match {
      case TimeOnly => fmtTime(secs)
      case _ =>
        val d = base.plusDays(days)
        if (secs == 0) d.toString else s"$d ${fmtTime(secs)}"
    }
  }

  private def fmtTime(secs: Long): String =
    f"${secs / 3600}%02d:${secs % 3600 / 60}%02d:${secs % 60}%02d"

  /** "B3" → 0-based column 1 (letters only; digits are the row). */
  private[sources] def colOf(ref: String): Int = {
    var c = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      c = c * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    c - 1
  }

  /** sharedStrings.xml → indexed strings; rich-text runs (`<r><t>`)
    * concatenate like every reader does. */
  private def parseSharedStrings(xml: Array[Byte]): Vector[String] = {
    val r = xif.createXMLStreamReader(new ByteArrayInputStream(xml))
    val out = Vector.newBuilder[String]
    var cur: StringBuilder = null
    var inT = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => cur = new StringBuilder
              case "t" if cur != null => inT = true
              case _ => ()
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inT) cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "si" => out += cur.toString; cur = null
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    out.result()
  }

  /** One worksheet XML → dense grid (absent rows/cells become null so
    * `_row` always equals the sheet row, as the cleaners' header
    * offsets require). */
  private def parseSheet(xml: Array[Byte], sst: Vector[String],
                         styles: XlsxStyles = NoStyles)
      : Vector[Vector[String]] = {
    val r = xif.createXMLStreamReader(new ByteArrayInputStream(xml))
    val cells = mutable.Map.empty[(Int, Int), String]
    var maxRow = -1
    var maxCol = -1
    var row = -1      // 0-based sheet row of the current <row>
    var col = -1      // 0-based column of the current <c>
    var cellType = ""
    var styleIdx = -1 // current <c>'s s= attribute (cellXfs index)
    var inV = false
    var inIsT = false
    val text = new StringBuilder
    def put(v: String): Unit = {
      val value = cellType match {
        case "s" => sst(v.trim.toInt)
        case "b" => if (v.trim == "1") "TRUE" else "FALSE"
        case "" | "n" =>
          // date-styled numeric cells decode their serial; any other
          // numeric (or unparseable) value passes through verbatim
          styles.kindOf(styleIdx) match {
            case Some(kind) =>
              v.trim.toDoubleOption
                .map(serialToString(_, kind, styles.date1904))
                .getOrElse(v)
            case None => v
          }
        case _ => v
      }
      cells((row, col)) = value
      if (row > maxRow) maxRow = row
      if (col > maxCol) maxCol = col
    }
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" =>
                val ra = r.getAttributeValue(null, "r")
                row = if (ra != null) ra.toInt - 1 else row + 1
                col = -1
              case "c" =>
                val ra = r.getAttributeValue(null, "r")
                col = if (ra != null) colOf(ra) else col + 1
                val t = r.getAttributeValue(null, "t")
                cellType = if (t == null) "" else t
                val sa = r.getAttributeValue(null, "s")
                styleIdx = if (sa == null) -1 else sa.toInt
              case "v" => inV = true; text.setLength(0)
              // inline strings accumulate across rich-text runs: reset
              // at <is>, append per <t>, emit at </is>
              case "is" => text.setLength(0)
              case "t" if cellType == "inlineStr" => inIsT = true
              case _ => ()
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inV || inIsT) text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v" if inV => inV = false; put(text.toString)
              case "t" if inIsT => inIsT = false
              case "is" if cellType == "inlineStr" => put(text.toString)
              case _ => ()
            }
          case _ => ()
        }
      }
    } finally r.close()
    Vector.tabulate(maxRow + 1, maxCol + 1)((ri, ci) =>
      cells.getOrElse((ri, ci), null))
  }

  /** Parse a whole workbook: workbook.xml gives sheet names + r:ids,
    * the .rels part maps r:ids to worksheet paths. */
  def read(bytes: Array[Byte]): Workbook = {
    val parts = entries(bytes)
    val sst = parts.get("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(Vector.empty)
    val styleKinds = parts.get("xl/styles.xml").map(parseStyles)
      .getOrElse(Vector.empty)
    // rels: rId -> target (relative to xl/ unless absolute)
    val rels = mutable.Map.empty[String, String]
    parts.get("xl/_rels/workbook.xml.rels").foreach { relXml =>
      val r = xif.createXMLStreamReader(new ByteArrayInputStream(relXml))
      try {
        while (r.hasNext) {
          if (r.next() == XMLStreamConstants.START_ELEMENT &&
              r.getLocalName == "Relationship") {
            val id = r.getAttributeValue(null, "Id")
            val tgt = r.getAttributeValue(null, "Target")
            if (id != null && tgt != null)
              rels(id) =
                if (tgt.startsWith("/")) tgt.drop(1) else s"xl/$tgt"
          }
        }
      } finally r.close()
    }
    // workbook.xml: ordered (name, rId)
    val sheets = Vector.newBuilder[(String, String)]
    val wb = parts.getOrElse("xl/workbook.xml",
      sys.error("not an xlsx: no xl/workbook.xml"))
    val wr = xif.createXMLStreamReader(new ByteArrayInputStream(wb))
    var date1904 = false
    try {
      while (wr.hasNext) {
        if (wr.next() == XMLStreamConstants.START_ELEMENT) {
          wr.getLocalName match {
            case "workbookPr" =>
              val d = wr.getAttributeValue(null, "date1904")
              date1904 = d == "1" || d == "true"
            case "sheet" =>
              val name = wr.getAttributeValue(null, "name")
              // r:id is namespaced; scan attributes by local name
              val rid = (0 until wr.getAttributeCount)
                .find(i => wr.getAttributeLocalName(i) == "id")
                .map(wr.getAttributeValue)
                .getOrElse(sys.error(s"sheet '$name' has no r:id"))
              sheets += ((name, rid))
            case _ => ()
          }
        }
      }
    } finally wr.close()
    val styles = XlsxStyles(styleKinds, date1904)
    Workbook(sheets.result().map { case (name, rid) =>
      val path = rels.getOrElse(rid, sys.error(s"no rel for $rid"))
      name -> parseSheet(parts.getOrElse(path,
        sys.error(s"missing part $path")), sst, styles)
    })
  }

  // ----------------------------------------------------------- write
  private def xmlEscape(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case c => c.toString
  }

  /** Minimal single-part-per-sheet writer: numeric JVM types as
    * `t="n"`, everything else (all strings included) as inline
    * strings — self-contained, opens in Excel/pandas/POI. */
  def write(sheets: Seq[(String, Seq[Seq[Any]])], out: OutputStream): Unit = {
    val z = new ZipOutputStream(out)
    def part(name: String, body: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(body.getBytes("UTF-8"))
      z.closeEntry()
    }
    val decl = "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>"
    val n = sheets.size
    try {
      part("[Content_Types].xml", decl +
        "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">" +
        "<Default Extension=\"rels\" ContentType=\"application/vnd.openxmlformats-package.relationships+xml\"/>" +
        "<Default Extension=\"xml\" ContentType=\"application/xml\"/>" +
        "<Override PartName=\"/xl/workbook.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml\"/>" +
        "<Override PartName=\"/xl/styles.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml\"/>" +
        (1 to n).map(i =>
          s"<Override PartName=\"/xl/worksheets/sheet$i.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml\"/>")
          .mkString + "</Types>")
      part("_rels/.rels", decl +
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
        "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument\" Target=\"xl/workbook.xml\"/>" +
        "</Relationships>")
      part("xl/workbook.xml", decl +
        "<workbook xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\" " +
        "xmlns:r=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships\"><sheets>" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>")
      part("xl/_rels/workbook.xml.rels", decl +
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
        (1 to n).map(i =>
          s"<Relationship Id=\"rId$i\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet\" Target=\"worksheets/sheet$i.xml\"/>")
          .mkString +
        s"<Relationship Id=\"rId${n + 1}\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles\" Target=\"styles.xml\"/>" +
        "</Relationships>")
      // cellXfs: 0 = general, 1 = builtin date (numFmtId 14),
      // 2 = builtin datetime (numFmtId 22) — what date cells reference
      part("xl/styles.xml", decl +
        "<styleSheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">" +
        "<fonts count=\"1\"><font/></fonts>" +
        "<fills count=\"1\"><fill/></fills>" +
        "<borders count=\"1\"><border/></borders>" +
        "<cellStyleXfs count=\"1\"><xf/></cellStyleXfs>" +
        "<cellXfs count=\"3\"><xf numFmtId=\"0\"/>" +
        "<xf numFmtId=\"14\" applyNumberFormat=\"1\"/>" +
        "<xf numFmtId=\"22\" applyNumberFormat=\"1\"/></cellXfs>" +
        "</styleSheet>")
      sheets.zipWithIndex.foreach { case ((_, rows), si) =>
        val body = new StringBuilder(decl)
        body.append("<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\"><sheetData>")
        rows.zipWithIndex.foreach { case (cells, ri) =>
          body.append(s"""<row r="${ri + 1}">""")
          cells.zipWithIndex.foreach { case (cell, ci) =>
            val ref = s"${colLetters(ci)}${ri + 1}"
            cell match {
              case null => () // sparse: omit only true nulls
              // NaN/Infinity are not valid numeric cells — Excel would
              // flag the workbook for repair; write them as text.
              // Strings are ALWAYS text (pandas.to_excel parity): a
              // numeric cell for "007" or a 20-digit order id would
              // lose leading zeros / precision on round trip.
              case v: Double if java.lang.Double.isFinite(v) =>
                body.append(s"""<c r="$ref"><v>$v</v></c>""")
              case v: Float if java.lang.Float.isFinite(v) =>
                body.append(s"""<c r="$ref"><v>$v</v></c>""")
              case v @ (_: Int | _: Long | _: Short | _: Byte |
                        _: java.math.BigDecimal | _: BigDecimal) =>
                body.append(s"""<c r="$ref"><v>$v</v></c>""")
              // typed dates/timestamps → date-styled serials, so the
              // cell survives a round trip as a DATE cell (style 1 =
              // numFmt 14, style 2 = numFmt 22)
              case v: java.time.LocalDate =>
                body.append(
                  s"""<c r="$ref" s="1"><v>${dateSerial(v)}</v></c>""")
              case v: java.sql.Date =>
                body.append(s"""<c r="$ref" s="1"><v>${
                  dateSerial(v.toLocalDate)}</v></c>""")
              case v: java.time.LocalDateTime =>
                body.append(
                  s"""<c r="$ref" s="2"><v>${dateTimeSerial(v)}</v></c>""")
              case v: java.sql.Timestamp =>
                body.append(s"""<c r="$ref" s="2"><v>${
                  dateTimeSerial(v.toLocalDateTime)}</v></c>""")
              case v =>
                body.append(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${xmlEscape(v.toString)}</t></is></c>""")
            }
          }
          body.append("</row>")
        }
        body.append("</sheetData></worksheet>")
        part(s"xl/worksheets/sheet${si + 1}.xml", body.toString)
      }
    } finally z.close()
  }

  /** Days since the 1900-system base (matches [[serialToString]]). */
  private def dateSerial(d: java.time.LocalDate): Long =
    java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.of(1899, 12, 30), d)

  /** Date+time serial as exact decimal ARITHMETIC (days + secs/86400),
    * not string concatenation: a pre-1899-12-30 date has a NEGATIVE
    * day serial, and "-1" ++ ".75" would read as -1.75 where the
    * correct serial is -1 + 0.75 = -0.25. Plain decimal rendering is
    * locale-free and never scientific; 10 digits ≈ ms precision. */
  private def dateTimeSerial(ldt: java.time.LocalDateTime): String = {
    val days = dateSerial(ldt.toLocalDate)
    val secs = ldt.toLocalTime.toSecondOfDay
    if (secs == 0) days.toString
    else java.math.BigDecimal.valueOf(days)
      .add(java.math.BigDecimal.valueOf(secs.toLong)
        .divide(java.math.BigDecimal.valueOf(86400L), 10,
          java.math.RoundingMode.HALF_UP))
      .toPlainString
  }

  private[sources] def colLetters(c0: Int): String = {
    var c = c0 + 1
    val sb = new StringBuilder
    while (c > 0) {
      val rem = (c - 1) % 26
      sb.insert(0, ('A' + rem).toChar)
      c = (c - 1) / 26
    }
    sb.toString
  }

  def writeBytes(sheets: Seq[(String, Seq[Seq[Any]])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    write(sheets, bos)
    bos.toByteArray
  }

  /** S13 edge export: one mart DataFrame → one-sheet workbook with a
    * header row. Edge marts are small, human-facing reports (the
    * reference writes them with pandas.to_excel), so the bounded
    * collect here is the contract, not a scale hazard. */
  def writeSheetFile(df: DataFrame, sheetName: String,
                     path: String): Unit = {
    val header: Seq[Any] = df.columns.toSeq
    val rows = df.collect().toSeq.map(_.toSeq.map {
      case null => null
      case v => v
    })
    val fos = new java.io.FileOutputStream(path)
    try write(Seq(sheetName -> (header +: rows)), fos)
    finally fos.close()
  }

  // ------------------------------------------------- bronze grid read
  /** Every .xlsx under `path` → rows of `schema`, in one `binaryFile`
    * scan: each workbook is parsed once, inside the executor task that
    * reads its bytes, and `rows` turns the parsed workbook into output
    * rows there. Files parallelize across the cluster, and no
    * workbook is ever collected to the driver. */
  def scanWorkbooks(spark: SparkSession, paths: Seq[String],
                    schema: StructType)(
      rows: (String, Workbook) => Iterator[Row]): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.xlsx")
      .load(paths: _*)
      .select($"path", $"content")
      .as[(String, Array[Byte])]
      .flatMap { case (file, bytes) => rows(file, read(bytes)) }(
        Encoders.row(schema))
  }

  /** The first .xlsx under the first of `paths` that has one (by
    * name), parsed on the driver through the Hadoop FS — no Spark job —
    * for callers that fix a schema from it, as [[XlsxDataSource]]'s
    * inference does. */
  def firstWorkbook(spark: SparkSession,
                    paths: Seq[String]): (String, Workbook) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = paths.iterator
      .flatMap(XlsxDataSource.listXlsx(_, conf).headOption).nextOption()
      .getOrElse(throw new IllegalArgumentException(
        s"no .xlsx workbooks under ${paths.mkString(", ")}"))
    file -> read(XlsxDataSource.readBytes(file, conf))
  }
}
