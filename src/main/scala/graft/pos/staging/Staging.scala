package graft.pos.staging

import graft.functions.Cleaning
import graft.pos.DataQualityError
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Silver-layer cleaners. Bronze input contract: a raw report grid as
  * a DataFrame with `_row` (0-based sheet row order, assigned by the
  * bronze reader) and `_c0.._cN` string cells — what an Excel/CSV
  * export looks like before headers are known.
  *
  * Each cleaner is split in two. Its pure head functions (`layout`
  * over a sheet's first rows: header row, logical columns, sucursal)
  * resolve one export's layout; its body functions (`cleanBody`, or
  * `typedBody` then `flagBody` for payments) are the distributed
  * DataFrame transform over the projected body rows. The grid entry
  * points (`clean(grid, …)`) run the head functions DRIVER-SIDE over
  * `limit(50)` (the reference's nrows=50 two-phase read,
  * payments_cleaner.py:294-316). The workbook stagers
  * ([[PaymentsXlsx]] and its siblings) run the same head functions
  * inside the executor task that parses each workbook, and one body
  * transform covers every workbook of the scan.
  */
object Headers {
  /** Driver-side strip_invisibles (cleaning_utils.py:52-81). */
  def stripInvisibles(s: String): String =
    if (s == null) ""
    else s.replace("\r", "")
      .replaceAll("[\\t\\u00A0\\u202F]", " ")
      .replaceAll("[\\u200B\\u200C\\u200D\\uFEFF]", "")
      .replaceAll("\\s+", " ").trim

  /** Driver-side normalize_spanish_name (cleaning_utils.py:261-313). */
  def normalizeSpanish(s: String): String =
    java.text.Normalizer.normalize(stripInvisibles(s),
        java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "").toLowerCase

  def toSnake(s: String): String = {
    val t = s.replaceAll("[^\\w]+", "_")
      .replaceAll("^_+|_+$", "").toLowerCase
    if (t.isEmpty) "unnamed" else t
  }

  /** col, col_2, col_3 … (cleaning_utils.py:347-367). */
  def uniquify(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.map { n =>
      val k = seen.getOrElse(n, 0) + 1
      seen(n) = k
      if (k == 1) n else s"${n}_$k"
    }
  }

  /** `Kavia_OLD` → `Kavia`, dashes → spaces
    * (payments_cleaner.py:251-270). */
  def normalizeBranchName(raw: String): String =
    if (raw == null) ""
    else raw.trim.split("_", 2)(0).replace('-', ' ')

  /** F9 slugify (etl/utils.py:408-435): NFKD, strip combining, strip
    * non-word, spaces/hyphens → single hyphen; empty → "unknown". */
  def slugify(value: String): String = {
    val norm = java.text.Normalizer
      .normalize(if (value == null) "" else value,
        java.text.Normalizer.Form.NFKD)
      .replaceAll("\\p{M}+", "")
    val slug = norm.replaceAll("[^\\w\\s-]", "")
      .replaceAll("[-\\s]+", "-")
      .replaceAll("^[-_]+|[-_]+$", "").toLowerCase
    if (slug.isEmpty) "unknown" else slug
  }
}

/** One sheet's resolved head, as the cleaners' `layout` functions
  * return it: the header row, the logical columns kept with their raw
  * cell positions, the Cajero/Mesero positions the payments sucursal
  * fallback votes over, and the sales sheet's sucursal. */
final case class Layout(headerIdx: Int, named: Seq[(String, Int)],
                        candidates: Seq[Int] = Nil, sucursal: String = "") {
  def names: Seq[String] = named.map(_._1)
}

/** The grid entry points' DRIVER-SIDE two-phase read (the reference's
  * nrows=50 read, payments_cleaner.py:294-316): the first `n` rows
  * (nulls as "") for the head functions, then the rows below the
  * header. */
private[staging] final class GridHead(raw: DataFrame, n: Int) {
  private val cellCols = raw.columns.filter(_.startsWith("_c")).toSeq
    .sortBy(_.drop(2).toInt)
  val rows: Seq[Seq[String]] = raw.orderBy(col("_row")).limit(n).collect()
    .toIndexedSeq.map(r => cellCols.map(c =>
      Option(r.getAs[String](c)).getOrElse("")))
  def cell(i: Int): Column = col(cellCols(i))
  def below(lay: Layout): DataFrame = raw.filter(col("_row") > lay.headerIdx)
  /** The body rows projected to the layout's logical columns. */
  def body(lay: Layout): DataFrame =
    below(lay).select(lay.named.map { case (n, i) => cell(i).as(n) }: _*)
}

/** "Detalle por forma de pago" cleaner
  * (`payments_cleaner.py:126-686`). */
object PaymentsCleaner {
  val HeaderMap: Map[String, String] = Map(
    "Total" -> "day_total",
    "Participacion del día" -> "day_share",
    "Participación del día" -> "day_share",
    "Participacion del dia" -> "day_share",
    "Fecha" -> "operating_date",
    "Orden" -> "order_index",
    "Forma de pago" -> "payment_method",
    "Total.1" -> "ticket_total",
    "Total Cobrado" -> "ticket_total_plus_tip")

  val NumericColumns: Set[String] = Set("day_total", "day_share",
    "ticket_total", "ticket_tip", "ticket_total_plus_tip",
    "total_day_tips")

  val DropColsNormalized: Set[String] = Set(
    "Participación del día", "PDV", "Movimiento                     PDV",
    "Estatus", "Mesero", "Cajero", "Fecha de pago", "Referencia",
    "Transacción", "Terminal", "Código de validación")
    .map(Headers.normalizeSpanish)

  /** HEADER_MAP + positional Propina disambiguation: first Propina →
    * total_day_tips, second → ticket_tip (payments_cleaner.py:161-171);
    * then snake_case + uniquify. */
  def normalizeHeaders(cols: Seq[String]): Seq[String] = {
    // pandas mangles duplicate raw headers to "Name.1", "Name.2" before
    // HEADER_MAP sees them (hence the "Total.1" → ticket_total entry);
    // reproduce that numbering here
    val counts = scala.collection.mutable.Map.empty[String, Int]
    val numbered = cols.map { c0 =>
      val c = Headers.stripInvisibles(c0)
      val k = counts.getOrElse(c, 0)
      counts(c) = k + 1
      if (k == 0) c else s"$c.$k"
    }
    // NOTE: the reference's own code compares the mangled name
    // verbatim ("Propina.1" != "Propina"), so its second Propina
    // leaks through as raw propina_1 — contradicting its docstring
    // and the downstream ticket_tip contract (FIXTURES.md §1). We
    // implement the documented contract: positional disambiguation.
    var propinas = 0
    val mapped = numbered.map { c =>
      val base = c.replaceAll("\\.\\d+$", "")
      val logical =
        if (base == "Propina") {
          propinas += 1
          if (propinas == 1) "total_day_tips" else "ticket_tip"
        } else HeaderMap.getOrElse(c, c)
      Headers.toSnake(logical)
    }
    Headers.uniquify(mapped)
  }

  /** Sentinel scan for the header row — SUBSTRING match like the
    * reference ("Forma de pago:" still hits, payments_cleaner.py:
    * 94-107). Divergence: the reference silently falls back to row 0
    * when no sentinel exists; we fail fast — a mis-structured silver
    * file is worse than a rejected one. */
  def detectHeaderRow(head: Seq[Seq[String]]): Int = {
    val i = head.indexWhere(_.exists(c =>
      Headers.stripInvisibles(c).toLowerCase
        .contains("forma de pago")))
    if (i < 0)
      throw new DataQualityError(
        "header row with 'Forma de pago' not found in first rows")
    i
  }

  /** Resolve a sheet's layout from its first rows (nulls as ""): the
    * named, non-dropped columns (P1) and the F16 candidates. */
  def layout(head: Seq[Seq[String]]): Layout = {
    val headerIdx = detectHeaderRow(head)
    val rawHeaders = head(headerIdx)
    val named = normalizeHeaders(rawHeaders).zipWithIndex
      .filter { case (_, i) =>
        val h = Headers.stripInvisibles(rawHeaders(i))
        h.nonEmpty &&
          !DropColsNormalized.contains(Headers.normalizeSpanish(h))
      }
    if (named.isEmpty)
      throw new DataQualityError("payments header row names no columns")
    val candidates = rawHeaders.indices.filter { i =>
      val n = Headers.stripInvisibles(rawHeaders(i))
      n == "Cajero" || n == "Mesero"
    }
    Layout(headerIdx, named, candidates)
  }

  /** Column names of the F16 vote frame [[modalSucursal]] reads, and
    * of its result. */
  val FirstCell = "_first"
  val Candidates = "_cand"
  val Sucursal = "_sucursal"

  /** F16 sucursal fallback: the modal value of each Cajero/Mesero
    * column (ties → smallest value), then across those columns prefer
    * non-numeric, then shorter, then header order
    * (payments_cleaner.py:220-248). `votes` carries one row per body
    * row: its raw first kept cell ([[FirstCell]]) and its raw
    * candidate cells ([[Candidates]]); footer/junk rows (blank first
    * kept cell) do not vote, like the reference, which samples AFTER
    * footer filtering. One result row per `scope` value, column
    * [[Sucursal]]. */
  def modalSucursal(votes: DataFrame, scope: Seq[String]): DataFrame = {
    val keys = scope.map(col)
    val counted = votes
      .filter(Cleaning.stripInvisibles(col(FirstCell)) =!= "")
      .select(keys :+ posexplode(col(Candidates)).as(Seq("slot", "v")): _*)
      .withColumn("v", Cleaning.stripInvisibles(col("v")))
      .filter(col("v").isNotNull && col("v") =!= "")
      .groupBy(keys :+ col("slot") :+ col("v"): _*).count()
    counted
      .groupBy(keys :+ col("slot"): _*)
      .agg(min(struct((-col("count")).as("n"), col("v"))).getField("v")
        .as("v"))
      .groupBy(keys: _*)
      .agg(min(struct(col("v").rlike("^\\d+$").as("numeric"),
        length(col("v")).as("len"), col("slot"), col("v")))
        .getField("v").as(Sucursal))
  }

  /** Clean one raw payments grid into fact rows. `eliminations` is the
    * parsed "Pagos Eliminados" block with raw `Fecha de operación` /
    * `Orden` columns. */
  def clean(raw: DataFrame, sucursalHint: String,
            eliminations: Option[DataFrame] = None,
            chunkStart: Option[String] = None,
            chunkEnd: Option[String] = None): DataFrame = {
    val grid = new GridHead(raw, 50)
    val lay = layout(grid.rows)
    // sucursal: hint first, else the F16 fallback, collected to a literal
    val hint = Headers.normalizeBranchName(sucursalHint)
    val sucursal =
      if (hint.nonEmpty || lay.candidates.isEmpty) hint
      else modalSucursal(grid.below(lay).select(
          grid.cell(lay.named.head._2).as(FirstCell),
          array(lay.candidates.map(grid.cell): _*).as(Candidates)), Nil)
        .collect().headOption.flatMap(r => Option(r.getString(0)))
        .getOrElse("")
    flagBody(typedBody(grid.body(lay), lay.names), lay.names, lit(sucursal),
      eliminations, Nil, chunkStart, chunkEnd)
  }

  /** The distributed body of the payments cleaner, in two halves
    * shared by the grid entry point and the workbook scan. This half
    * drops empty/footer rows (P2) and cleans and types the raw logical
    * columns `strCols` of `projected`; other columns ride along. P2
    * reads the raw cells — cleanup keeps null as null and blank as "" —
    * so no filter re-evaluates the cleanup expressions. */
  private[staging] def typedBody(projected: DataFrame,
                                 strCols: Seq[String]): DataFrame = {
    val nonEmpty = projected
      .na.drop("all", strCols)
      .filter(Cleaning.stripInvisibles(col(strCols.head)) =!= "")
    // F1/F2 cleanup, then type coercion: F5 dates, F3 money, F4 ints —
    // only for columns the report actually carries (reference guards
    // each with `in df`)
    val cleaned = nonEmpty.withColumns(strCols.map(c =>
      c -> Cleaning.neutralize(Cleaning.stripInvisibles(col(c)))).toMap)
    val typed0 =
      if (strCols.contains("operating_date"))
        cleaned.withColumn("operating_date",
          Cleaning.parseDateMulti(col("operating_date")))
      else cleaned
    val typed =
      if (strCols.contains("order_index"))
        typed0.withColumn("order_index",
          Cleaning.parseIntMoney(col("order_index")))
      else typed0
    typed.withColumns(NumericColumns.filter(strCols.contains)
      .map(c => c -> Cleaning.parseMoney(col(c))).toMap)
  }

  /** The second half of the payments body: P3 chunk range, sucursal and
    * J1 eliminations over [[typedBody]]'s output. `scope` names the
    * columns that identify one export — none for a single grid,
    * `_file` for a workbook scan — so an elimination only flags rows of
    * its own export. */
  private[staging] def flagBody(typed: DataFrame, strCols: Seq[String],
                                sucursal: Column,
                                eliminations: Option[DataFrame],
                                scope: Seq[String],
                                chunkStart: Option[String],
                                chunkEnd: Option[String]): DataFrame = {
    // P3 chunk-range filter (dedups overlapping exports)
    val ranged = (chunkStart, chunkEnd) match {
      case (Some(s0), Some(e0)) if strCols.contains("operating_date") =>
        typed.filter(col("operating_date")
          .between(lit(s0).cast("date"), lit(e0).cast("date")))
      case _ => typed
    }
    val withSucursal = ranged.withColumn("sucursal", sucursal)

    // J1: eliminations flag — dedup on (scope, date, order), left
    // join, null → false (payments_cleaner.py:597-650)
    eliminations match {
      case Some(elim) =>
        val scoped = scope.map(c => c -> s"e$c")
        val e = elim
          .withColumn("e_date",
            Cleaning.parseDateMulti(col("Fecha de operación")))
          .withColumn("e_order", Cleaning.parseIntMoney(col("Orden")))
          .select(scoped.map { case (c, e) => col(c).as(e) } ++
            Seq(col("e_date"), col("e_order")): _*)
          .na.drop()
          .dropDuplicates(scoped.map(_._2) ++ Seq("e_date", "e_order"))
          .withColumn("e_flag", lit(true))
        val on = scoped.foldLeft(
          col("operating_date") === col("e_date") &&
            col("order_index") === col("e_order")) {
          case (cond, (c, e)) => cond && col(c) === col(e) }
        withSucursal
          .join(broadcast(e), on, "left")
          .withColumn("elimination_present",
            coalesce(col("e_flag"), lit(false)))
          .drop(scoped.map(_._2) ++ Seq("e_date", "e_order", "e_flag"): _*)
      case None =>
        withSucursal.withColumn("elimination_present", lit(false))
    }
  }
}

/** "Transferencias" cleaner (`transfer_cleaner.py:60-262`): header
  * found by TOKEN SCORING (best row by count of known snake_case
  * tokens), duplicate Costo/IVA/IEPS columns where the `.1` variants
  * carry unit-level values, and derived tax/unit-cost arithmetic. */
object TransfersCleaner {
  val KnownHeaderTokens: Set[String] = Set("orden", "sucursal_origen",
    "almacen_origen", "sucursal_destino", "almacen_destino",
    "descripcion", "fecha", "estatus", "emisor", "receptor", "costo",
    "costo_con_margen", "ieps", "iva", "costo_total_con_margen",
    "cantidad", "departamento", "clave", "producto", "presentacion")

  /** Best row by known-token score (transfer_cleaner.py:93-115). */
  def detectHeaderRow(head: Seq[Seq[String]]): Int = {
    val scored = head.take(40).zipWithIndex.map { case (r, i) =>
      val norm = r.map(c => Headers.toSnake(
        Headers.normalizeSpanish(c))).filter(_ != "unnamed").toSet
      (i, (norm & KnownHeaderTokens).size)
    }
    if (scored.isEmpty || scored.map(_._2).max == 0)
      throw new DataQualityError("transfers header row not found")
    scored.maxBy { case (i, s) => (s, -i) }._1
  }

  private val Required = Seq("orden", "almacen_origen",
    "sucursal_destino", "almacen_destino", "fecha", "estatus",
    "cantidad", "departamento", "clave", "producto", "presentacion")

  /** Resolve a sheet's layout from its first rows (nulls as ""). */
  def layout(head: Seq[Seq[String]]): Layout = {
    val headerIdx = detectHeaderRow(head)
    val rawHeaders = head(headerIdx)
    // snake_case + uniquify → costo, costo_2 (unit variant) etc.
    val snake = Headers.uniquify(rawHeaders.map(h =>
      Headers.toSnake(Headers.normalizeSpanish(h))))
    val byName = snake.zipWithIndex.toMap
    def pick(cands: String*): Option[Int] =
      cands.collectFirst { case c if byName.contains(c) => byName(c) }

    val colMap: Seq[(String, Option[Int])] = Seq(
      "orden" -> pick("orden"),
      "almacen_origen" -> pick("almacen_origen"),
      "sucursal_destino" -> pick("sucursal_destino"),
      "almacen_destino" -> pick("almacen_destino"),
      "fecha" -> pick("fecha"),
      "estatus" -> pick("estatus"),
      "cantidad" -> pick("cantidad"),
      "departamento" -> pick("departamento"),
      "clave" -> pick("clave"),
      "producto" -> pick("producto"),
      "presentacion" -> pick("presentacion"),
      // reference parity: its pick("costo.1", ...) can never match the
      // snake_cased "costo_1", so costo comes from the FIRST column;
      // iva/ieps genuinely take the second (unit-level) occurrence
      "costo_ext" -> pick("costo"),
      "iva_unit" -> pick("iva_2"),
      "ieps_unit" -> pick("ieps_2"))
    val missing = Required.filter(k =>
      colMap.toMap.apply(k).isEmpty)
    if (missing.nonEmpty)
      throw new DataQualityError(
        s"missing required columns: ${missing.mkString(", ")}")
    Layout(headerIdx, colMap.collect { case (n, Some(i)) => n -> i })
  }

  def clean(raw: DataFrame): DataFrame = {
    val grid = new GridHead(raw, 40)
    val lay = layout(grid.rows)
    cleanBody(grid.body(lay), lay.names)
  }

  /** The distributed body of the transfers cleaner, shared by the grid
    * entry point and the workbook scan: `projected` holds the raw
    * logical columns `present`. */
  private[staging] def cleanBody(projected: DataFrame,
                                 present: Seq[String]): DataFrame = {
    val textCols = Seq("orden", "almacen_origen", "sucursal_destino",
      "almacen_destino", "estatus", "departamento", "clave",
      "producto", "presentacion").filter(present.contains)
    // the orden filter reads the raw cell, as in the payments body
    val cleaned0 = projected
      .filter(Cleaning.stripInvisibles(col("orden")) =!= "")
      .withColumns(textCols.map(c =>
        c -> Cleaning.neutralize(Cleaning.stripInvisibles(col(c)))).toMap)

    val numCols = Seq("cantidad", "costo_ext", "iva_unit", "ieps_unit")
      .filter(present.contains)
    val typed = numCols.foldLeft(cleaned0)((df, c) =>
      df.withColumn(c, Cleaning.parseMoney(col(c))))
      .withColumn("fecha", Cleaning.parseDateMulti(col("fecha")))

    // derived: totals = qty × unit; unit cost = ext / qty (zero-guard)
    def mul(a: String, b: String): org.apache.spark.sql.Column =
      if (present.contains(b)) col(a) * col(b)
      else lit(null).cast("double")
    typed
      .withColumn("ieps_total", mul("cantidad", "ieps_unit"))
      .withColumn("iva_total", mul("cantidad", "iva_unit"))
      .withColumn("costo_unitario",
        when(col("cantidad").isNull || col("cantidad") === 0.0 ||
          col("costo_ext").isNull, lit(null).cast("double"))
          .otherwise(col("costo_ext") / col("cantidad")))
      .withColumnRenamed("costo_ext", "costo")
  }
}

/** "Detalle de Ventas" cleaner (`sales_cleaner.py:151-477`). */
object SalesCleaner {
  val HeaderMap: Map[String, String] = Map(
    "Día" -> "day_name", "Fecha de operación" -> "operating_date",
    "Hora de cierre" -> "closing_time",
    "Hora de captura" -> "captured_time", "Semana" -> "week_number",
    "Movimiento PDV" -> "pdv_txn_id", "Folio PDV" -> "pdv_txn_id",
    "Folio" -> "pdv_txn_id", "Orden" -> "order_id",
    "Tipo de Orden" -> "order_type", "Tipo de orden" -> "order_type",
    "Subtipo de Orden" -> "order_subtype",
    "Subtipo de orden" -> "order_subtype",
    "Mesa" -> "table_number", "No. Mesa" -> "table_number",
    "Comensales" -> "party_size", "No. Personas" -> "party_size",
    "Mesero" -> "server", "TPV" -> "terminal",
    "TPV Captura" -> "capture_terminal",
    "Terminal de captura" -> "capture_terminal",
    "Acción" -> "action", "Clave" -> "item_key",
    "Producto" -> "item", "Platillo / Artículo" -> "item",
    "Modificador" -> "modifier", "Tipo Grupo" -> "group_type",
    "Tipo de grupo" -> "group_type", "Grupo" -> "group",
    "Descripción" -> "description",
    "¿Es modificador?" -> "is_modifier",
    "Es modificador" -> "is_modifier",
    "Cantidad" -> "quantity", "Precio unitario" -> "unit_price",
    "Precio con modificadores" -> "unit_price_with_mods",
    "Precio unitario con modificador" -> "unit_price_with_mods",
    "Costo actual" -> "cost_actual", "Costo real" -> "cost_actual",
    "Costo con modificadores" -> "cost_with_mods",
    "Costo ideal" -> "cost_ideal", "Descuento" -> "discount")

  private val BlockLabels = Seq("ticket", "item", "cortesia_cancel",
    "anulacion")

  /** The 4 repeated Subtotal/IVA/IEPS/Total blocks are disambiguated
    * by POSITION (sales_cleaner.py:280-339): j-th occurrence →
    * `{amount}_{BlockLabels(j)}`. */
  def normalizeHeaders(cols: Seq[String]): Seq[String] = {
    val cleaned = cols.map(Headers.stripInvisibles)
    def cmp(s: String) =
      s.replaceAll("\\.\\d+$", "").replaceAll("\\s+", " ").trim.toLowerCase
    val cmpVals = cleaned.map(cmp)
    val amountIdx: Map[Int, String] =
      Seq("subtotal", "iva", "ieps", "total").flatMap { amt =>
        cmpVals.zipWithIndex.filter(_._1 == amt).map(_._2)
          .zip(BlockLabels).map { case (i, label) =>
            i -> s"${amt}_$label" }
      }.toMap
    val named = cleaned.zipWithIndex.map { case (c, i) =>
      amountIdx.getOrElse(i,
        Headers.toSnake(HeaderMap.getOrElse(c, c)))
    }
    Headers.uniquify(named)
  }

  /** Sentinel scan: row containing Día or Fecha de operación
    * (sales_cleaner.py:100-124). */
  def detectHeaderRow(head: Seq[Seq[String]]): Int = {
    val i = head.indexWhere(r => r.exists { c =>
      val s = Headers.stripInvisibles(c).toLowerCase
      s.contains("fecha de operación") || s == "día"
    })
    if (i < 0)
      throw new DataQualityError("sales header row not found")
    i
  }

  /** `"Sucursal: X"` from the top-left metadata cells
    * (sales_cleaner.py:127-146). */
  def extractSucursal(head: Seq[Seq[String]]): Option[String] = {
    val re = "(?i)sucursal\\s*:\\s*(.+)".r
    head.take(6).flatMap(_.take(6)).collectFirst {
      case c if re.findFirstMatchIn(Headers.stripInvisibles(c)).isDefined =>
        re.findFirstMatchIn(Headers.stripInvisibles(c)).get
          .group(1).trim
    }
  }

  val NumericColumns: Set[String] =
    Set("quantity", "unit_price", "unit_price_with_mods", "cost_actual",
      "cost_with_mods", "cost_ideal", "discount") ++
      (for (a <- Seq("subtotal", "iva", "ieps", "total");
            b <- BlockLabels) yield s"${a}_$b")

  /** Resolve a sheet's layout from its first rows (nulls as ""); the
    * sucursal is the hint, else the sheet's own `Sucursal:` line. */
  def layout(head: Seq[Seq[String]], sucursalHint: Option[String]): Layout = {
    val headerIdx = detectHeaderRow(head)
    val sucursal = sucursalHint
      .orElse(extractSucursal(head))
      .map(Headers.normalizeBranchName).getOrElse("")
    val rawHeaders = head(headerIdx)
    val named = normalizeHeaders(rawHeaders).zipWithIndex
      .filter { case (_, i) =>
        Headers.stripInvisibles(rawHeaders(i)).nonEmpty }
    if (named.isEmpty)
      throw new DataQualityError("sales header row names no columns")
    Layout(headerIdx, named, sucursal = sucursal)
  }

  def clean(raw: DataFrame, sucursalHint: Option[String] = None)
      : DataFrame = {
    val grid = new GridHead(raw, 50)
    val lay = layout(grid.rows, sucursalHint)
    cleanBody(grid.body(lay), lay.names, lit(lay.sucursal))
  }

  /** The distributed body of the sales cleaner, shared by the grid
    * entry point and the workbook scan: `projected` holds the raw
    * logical columns `strCols`. */
  private[staging] def cleanBody(projected: DataFrame, strCols: Seq[String],
                                 sucursal: Column): DataFrame = {
    // P2 reads the raw cells, as in the payments body
    val nonEmpty = projected
      .na.drop("all", strCols)
      .filter(Cleaning.stripInvisibles(col(strCols.head)) =!= "")
      .withColumns(strCols.map(c =>
        c -> Cleaning.neutralize(Cleaning.stripInvisibles(col(c)))).toMap)

    val typed = nonEmpty
      .withColumn("operating_date",
        Cleaning.parseDateMulti(col("operating_date")))
    val withBool =
      if (strCols.contains("is_modifier"))
        typed.withColumn("is_modifier",
          Cleaning.boolCoerce(col("is_modifier")))
      else typed
    val coerced = NumericColumns.filter(strCols.contains)
      .foldLeft(withBool)((df, c) =>
        df.withColumn(c, Cleaning.parseMoney(col(c))))
    coerced.withColumn("sucursal", sucursal)
  }
}
