package graft.ops

import graft.Tables
import graft.functions.Cleaning._
import graft.pos.{Forecast, PaymentsDaily, Qa, TransfersPivot}
import graft.pos.staging.{Headers, PaymentsCleaner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Domain-operator parity queries: the POS-library operators that were
  * previously ScalaTest-only get oracle rows here. Each query
  * synthesizes the domain input from the testdata tables (the
  * ScalarParity pattern), runs the REAL library function, and the
  * oracle states the expected result independently in SQL.
  */
object DomainParity {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------ shared synth
  /** Transfer-line synth from `orders`: (origen, departamento) cycle
    * through the reference's warehouse/department domain (coprime mods
    * cover all combinations), destination cycles the 7 branches plus
    * one unknown. Mixed case + padding exercises the upper/trim
    * normalization inside the bucketer. */
  private def synthTransfers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k3 = pmod($"o_orderkey", lit(3))
    val k7 = pmod($"o_orderkey", lit(7))
    val k8 = pmod($"o_orderkey", lit(8))
    val origen = when(k3 === 0, lit(" Almacen Producto Terminado "))
      .when(k3 === 1, lit("almacen general"))
      .otherwise(lit("BODEGA EXTERNA"))
    val depto = when(k7 === 0, lit("Cocina"))
      .when(k7 === 1, lit("Reposteria"))
      .when(k7 === 2, lit("Refrigerados y Congelados"))
      .when(k7 === 3, lit("TOSTADOR"))
      .when(k7 === 4, lit("Abarrotes"))
      .when(k7 === 5, lit("desechables"))
      .otherwise(lit("MISC"))
    val dest = element_at(array(
      lit("Panem - Hotel Kavia N"), lit("Panem - Plaza Nativa"),
      lit("Panem - La Carreta N"), lit("Panem - Plaza Qin N"),
      lit("Panem - Punto Valle"), lit("Panem - Hospital Zambrano N"),
      lit("Panem - Credi Club"), lit("Panem - Desconocida")),
      (k8 + 1).cast("int"))
    Tables.orders(s, d).select($"o_orderkey",
      origen.as("almacen_origen"), depto.as("departamento"),
      dest.as("sucursal_destino"),
      $"o_totalprice".cast("decimal(18,2)").as("costo_dec"),
      pmod($"o_orderkey", lit(1000)).cast("double").as("costo_int"))
  }

  /** The (k3, k7) → bucket truth table of
    * [[TransfersPivot.bucketRow]], as SQL. */
  private val bucketSql = """
    CASE WHEN o_orderkey % 3 = 0 THEN
           CASE WHEN o_orderkey % 7 = 0 THEN 'COMIDA SALADA'
                WHEN o_orderkey % 7 = 1 THEN 'REPO' END
         WHEN o_orderkey % 3 = 1 THEN
           CASE WHEN o_orderkey % 7 = 2 THEN 'REFRICONGE'
                WHEN o_orderkey % 7 = 3 THEN 'TOSTADOR'
                WHEN o_orderkey % 7 = 4 THEN 'ABARROTES (No-PROC)'
                WHEN o_orderkey % 7 = 5 THEN 'DESECHABLE (No-PROC)' END
    END"""

  // ---------------------------------------------------------------- F11
  /** Transfer (origen, departamento) → bucket classification
    * (transfers.py:125-166) with per-bucket cost totals; NULL bucket =
    * unmapped rows. */
  val q27TransferBucket: Q = (s, d) => {
    import s.implicits._
    synthTransfers(s, d)
      .withColumn("bucket",
        TransfersPivot.bucketRow($"almacen_origen", $"departamento"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        sum($"costo_dec").cast("double").as("sum_costo"))
  }
  val o27: String = s"""
    SELECT $bucketSql AS bucket, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_costo
    FROM orders GROUP BY 1"""

  // ---------------------------------------------------------------- A15
  /** Unmapped-loss report (transfers.py:208-247): count + lost cost of
    * rows the bucketer cannot place. */
  val q28UnmappedLoss: Q = (s, d) => {
    import s.implicits._
    TransfersPivot.unmappedReport(synthTransfers(s, d)
      .select($"almacen_origen", $"departamento",
        $"costo_dec".as("costo")))
  }
  val o28: String = s"""
    SELECT COUNT(*) AS n_unmapped,
      CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
        AS lost_cost
    FROM orders WHERE ($bucketSql) IS NULL"""

  // ----------------------------------------------------------- A11/A12
  /** Category × branch pivot with TOTAL row and column and fixed row
    * order (transfers.py:213-246). Costs are integer-valued doubles so
    * every sum is exact; the driver compare sorts rows, so the fixed
    * order itself is exercised but not hashed. */
  val q29TransferPivot: Q = (s, d) => {
    import s.implicits._
    TransfersPivot.buildPivot(synthTransfers(s, d)
      .select($"almacen_origen", $"departamento", $"sucursal_destino",
        $"costo_int".as("costo")))
  }
  val o29: String = {
    val label = """
      CASE b WHEN 'COMIDA SALADA' THEN 'Comida Salada'
             WHEN 'REPO' THEN 'Repostería'
             WHEN 'REFRICONGE' THEN 'No-Procesados (Refri y Conge)'
             WHEN 'TOSTADOR' THEN 'Cafe'
             WHEN 'ABARROTES (No-PROC)' THEN 'No-Procesados (Abarrotes)'
             WHEN 'DESECHABLE (No-PROC)' THEN 'No-Procesados (Deshechables)'
      END"""
    val branches = TransfersPivot.BranchColOrder
    val branchCase = """
      CASE o_orderkey % 8 WHEN 0 THEN 'Kavia' WHEN 1 THEN 'Nativa'
           WHEN 2 THEN 'Carreta' WHEN 3 THEN 'Qin' WHEN 4 THEN 'PV'
           WHEN 5 THEN 'Zambrano' WHEN 6 THEN 'Crediclub' END"""
    val cols = branches.map(c =>
      s"""SUM(CASE WHEN branch = '$c' THEN costo ELSE 0 END) AS "$c"""")
      .mkString(",\n        ")
    val totCols = branches.map(c => s"""SUM("$c")""").mkString(", ")
    s"""
    WITH t AS (
      SELECT $label AS row_label, branch, costo FROM (
        SELECT ($bucketSql) AS b, $branchCase AS branch,
               CAST(o_orderkey % 1000 AS DOUBLE) AS costo
        FROM orders)
      WHERE b IS NOT NULL AND branch IS NOT NULL),
    p AS (
      SELECT row_label, $cols, SUM(costo) AS "TOTAL"
      FROM t GROUP BY 1)
    SELECT * FROM p
    UNION ALL
    SELECT 'TOTAL', $totCols, SUM("TOTAL") FROM p"""
  }

  // ---------------------------------------------------------------- W6
  /** Holiday adjacency (Forecast.holidayAdjacent): dates on or ±1 day
    * from a fixed holiday set, as an event census. */
  val q30HolidayAdjacent: Q = (s, d) => {
    import s.implicits._
    val hols = Set("2024-01-06", "2024-01-15", "2024-01-25")
      .map(java.time.LocalDate.parse)
    Tables.events(s, d)
      .select(to_date($"ts").as("fecha"))
      .withColumn("adjacent", Forecast.holidayAdjacent($"fecha", hols))
      .groupBy($"adjacent")
      .agg(count(lit(1)).as("n_events"))
  }
  // NOTE: DuckDB 1.0 resolves `date_col IN (DATE ...)` oddly when the
  // column is a casted timestamp (always false); string compare is the
  // portable spelling — which also matches the Spark implementation's
  // cast-to-string isin.
  val o30: String = """
    SELECT strftime(ts, '%Y-%m-%d') IN (
        '2024-01-05', '2024-01-06', '2024-01-07',
        '2024-01-14', '2024-01-15', '2024-01-16',
        '2024-01-24', '2024-01-25', '2024-01-26')
      AS adjacent, COUNT(*) AS n_events
    FROM events GROUP BY 1"""

  // ---------------------------------------------------------------- F16
  /** Modal-value fallback (Staging.scala sucursal heuristic,
    * payments_cleaner.py:305-333): most frequent value per group with
    * deterministic tie-break (count desc, value asc) — the distributed
    * spelling of the driver-side modal pre-pass. */
  val q31ModalFallback: Q = (s, d) => {
    import s.implicits._
    val counts = Tables.customer(s, d)
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"n".desc, $"c_mktsegment".asc)
    counts.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"c_nationkey", $"c_mktsegment".as("modal_segment"),
        $"n".as("n_rows"))
  }
  val o31: String = """
    WITH c AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment AS modal_segment, n AS n_rows
    FROM (SELECT *, row_number() OVER (PARTITION BY c_nationkey
            ORDER BY n DESC, c_mktsegment ASC) AS rn FROM c)
    WHERE rn = 1"""

  // ------------------------------------------------------ F7/F8/F9/F15
  /** Header-function truth table: the Spark side runs the REAL
    * driver-side functions (toSnake → uniquify chain exactly as
    * staging applies them, plus slugify and branch normalization);
    * the oracle hand-states the reference's documented mappings
    * (cleaning_utils.py:347-367, etl/utils.py:408-435,
    * payments_cleaner.py:251-270). */
  private val headerCases: Seq[(Int, String)] = Seq(
    (1, "Forma de Pago"), (2, "  Total Cobrado  "),
    (3, "Participación del día"), (4, "Total"), (5, "Total"),
    (6, "Sucursal: Café #1"), (7, ""), (8, "Kavia_OLD"),
    (9, "La-Carreta"), (10, "ÁÉÍ óú ñ"))

  val q32HeaderTable: Q = (s, _) => {
    import s.implicits._
    val raws = headerCases.map(_._2)
    val snakes = raws.map(Headers.toSnake)
    val uniq = Headers.uniquify(snakes)
    headerCases.zip(snakes).zip(uniq).map {
      case (((i, raw), sn), un) =>
        (i, sn, un, Headers.slugify(raw), Headers.normalizeBranchName(raw))
    }.toDF("id", "snake", "uniq", "slug", "branch")
  }
  val o32: String = """
    SELECT * FROM (VALUES
      (1, 'forma_de_pago', 'forma_de_pago', 'forma-de-pago', 'Forma de Pago'),
      (2, 'total_cobrado', 'total_cobrado', 'total-cobrado', 'Total Cobrado'),
      (3, 'participaci_n_del_d_a', 'participaci_n_del_d_a',
          'participacion-del-dia', 'Participación del día'),
      (4, 'total', 'total', 'total', 'Total'),
      (5, 'total', 'total_2', 'total', 'Total'),
      (6, 'sucursal_caf_1', 'sucursal_caf_1', 'sucursal-cafe-1',
          'Sucursal: Café #1'),
      (7, 'unnamed', 'unnamed', 'unknown', ''),
      (8, 'kavia_old', 'kavia_old', 'kavia_old', 'Kavia'),
      (9, 'la_carreta', 'la_carreta', 'la-carreta', 'La Carreta'),
      (10, 'unnamed', 'unnamed_2', 'aei-ou-n', 'ÁÉÍ óú ñ')
    ) t(id, snake, uniq, slug, branch)"""

  // ------------------------------------------------------ Q1/Q4/Q5/Q7
  /** Level-gated QA summary over a synthesized payments-daily mart
    * with planted violations (negative revenue on day 13, zero
    * card-method days on 21, all-zero revenue on 27, zero tickets on
    * 5): the Spark side runs the REAL Qa engine at level 3 and emits
    * its summary as one row; the oracle recomputes every count in SQL
    * (qa/api.py:105-134 level gating, qa_payments.py checks). */
  private def synthMart(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val suc = element_at(array(lit("Kavia"), lit("Nativa"), lit("Carreta")),
      (pmod($"o_custkey", lit(3)) + 1).cast("int"))
    val price = $"o_totalprice".cast("decimal(18,2)")
    val k9 = pmod($"o_orderkey", lit(9))
    val aggs = PaymentsDaily.BucketCols.zipWithIndex.map { case (c, i) =>
      coalesce(sum(when(k9 === i, price)), lit(0)).cast("double").as(c)
    } ++ Seq(
      coalesce(sum(when(pmod($"o_orderkey", lit(11)) === 0, price)),
        lit(0)).cast("double").as("propinas"),
      count(lit(1)).as("num_tickets"))
    val base = Tables.orders(s, d)
      .groupBy(suc.as("sucursal"), $"o_orderdate".cast("date").as("fecha"))
      .agg(aggs.head, aggs.tail: _*)
    val dom = dayofmonth($"fecha")
    val withNeg = base.withColumn("ingreso_efectivo",
      when(dom === 13, -$"ingreso_efectivo").otherwise($"ingreso_efectivo"))
    val zeroCards = Seq("ingreso_credito", "ingreso_debito")
      .foldLeft(withNeg)((df, c) => df.withColumn(c,
        when(dom.isin(21, 27), lit(0.0)).otherwise(col(c))))
    val zeroAll = (PaymentsDaily.BucketCols :+ "propinas")
      .foldLeft(zeroCards)((df, c) => df.withColumn(c,
        when(dom === 27, lit(0.0)).otherwise(col(c))))
    zeroAll.withColumn("num_tickets",
      when(dom === 5, lit(0L)).otherwise($"num_tickets"))
  }

  val q33QaLevels: Q = (s, d) => {
    import s.implicits._
    val m = Qa.runPaymentsQa(synthMart(s, d), level = 3).summary
    Seq((m("null_key_rows"), m("negative_rows"), m("tickets_no_revenue"),
      m("revenue_no_tickets"), m("missing_days"), m("duplicate_days"),
      m("zero_method_days")))
      .toDF("null_key_rows", "negative_rows", "tickets_no_revenue",
        "revenue_no_tickets", "missing_days", "duplicate_days",
        "zero_method_days")
  }
  val o33: String = {
    val buckets = PaymentsDaily.BucketCols
    val baseCols = (buckets.zipWithIndex.map { case (c, i) =>
      s"""CAST(COALESCE(SUM(CASE WHEN o_orderkey % 9 = $i
            THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE)
          AS $c"""
    } :+ s"""CAST(COALESCE(SUM(CASE WHEN o_orderkey % 11 = 0
            THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE)
          AS propinas""").mkString(",\n        ")
    def plant(c: String): String = c match {
      case "ingreso_efectivo" =>
        s"CASE WHEN day(fecha) = 27 THEN 0.0 WHEN day(fecha) = 13 THEN -$c ELSE $c END AS $c"
      case "ingreso_credito" | "ingreso_debito" =>
        s"CASE WHEN day(fecha) IN (21, 27) THEN 0.0 ELSE $c END AS $c"
      case other =>
        s"CASE WHEN day(fecha) = 27 THEN 0.0 ELSE $other END AS $other"
    }
    val planted = (buckets :+ "propinas").map(plant).mkString(",\n        ")
    val money = buckets :+ "propinas"
    val negPred = money.map(c => s"$c < -1e-6").mkString(" OR ")
    val revenue = money.mkString(" + ")
    s"""
    WITH b AS (
      SELECT CASE o_custkey % 3 WHEN 0 THEN 'Kavia' WHEN 1 THEN 'Nativa'
               ELSE 'Carreta' END AS sucursal,
             CAST(o_orderdate AS DATE) AS fecha,
             $baseCols,
             COUNT(*) AS num_tickets
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT sucursal, fecha,
        $planted,
        CASE WHEN day(fecha) = 5 THEN 0 ELSE num_tickets END AS num_tickets
      FROM b)
    SELECT
      CAST((SELECT COUNT(*) FROM m
            WHERE sucursal IS NULL OR fecha IS NULL) AS BIGINT)
        AS null_key_rows,
      CAST((SELECT COUNT(*) FROM m WHERE $negPred) AS BIGINT)
        AS negative_rows,
      CAST((SELECT COUNT(*) FROM m
            WHERE num_tickets > 0 AND ($revenue) <= 1e-6) AS BIGINT)
        AS tickets_no_revenue,
      CAST((SELECT COUNT(*) FROM m
            WHERE ($revenue) > 1e-6 AND num_tickets <= 0) AS BIGINT)
        AS revenue_no_tickets,
      CAST((SELECT SUM(total_days - present) FROM (
              SELECT date_diff('day', MIN(fecha), MAX(fecha)) + 1
                       AS total_days,
                     COUNT(DISTINCT fecha) AS present
              FROM m GROUP BY sucursal)) AS BIGINT) AS missing_days,
      CAST((SELECT COUNT(*) FROM (
              SELECT sucursal, fecha FROM m
              GROUP BY 1, 2 HAVING COUNT(*) > 1)) AS BIGINT)
        AS duplicate_days,
      CAST((SELECT COUNT(*) FROM m
            WHERE num_tickets > 0 AND ingreso_credito = 0.0
              AND ingreso_debito = 0.0) AS BIGINT) AS zero_method_days"""
  }

  // ------------------------------------------------------------- J2/Q6
  /** Tip-reconciliation report (PaymentsDaily.tipViolations): per-day
    * per-ticket tips vs the embedded day total; a 1000-unit mismatch
    * is planted on days 11 and 22. Tips are integer-valued doubles so
    * sums are exact in any order. */
  val q34TipSanity: Q = (s, d) => {
    import s.implicits._
    val suc = element_at(array(lit("Kavia"), lit("Nativa"), lit("Carreta")),
      (pmod($"o_custkey", lit(3)) + 1).cast("int"))
    val w = Window.partitionBy($"sucursal", $"operating_date")
    val tickets = Tables.orders(s, d)
      .select(suc.as("sucursal"),
        $"o_orderdate".cast("date").as("operating_date"),
        pmod($"o_orderkey", lit(50)).cast("double").as("ticket_tip"))
      .withColumn("total_day_tips",
        sum($"ticket_tip").over(w) +
          when(dayofmonth($"operating_date") % 11 === 0, lit(1000.0))
            .otherwise(lit(0.0)))
    PaymentsDaily.tipViolations(tickets)
      .select($"sucursal",
        date_format($"operating_date", "yyyy-MM-dd").as("operating_date"),
        $"tips_sum", $"tips_expected")
  }
  val o34: String = """
    WITH t AS (
      SELECT CASE o_custkey % 3 WHEN 0 THEN 'Kavia' WHEN 1 THEN 'Nativa'
               ELSE 'Carreta' END AS sucursal,
             CAST(o_orderdate AS DATE) AS od,
             CAST(o_orderkey % 50 AS DOUBLE) AS ticket_tip
      FROM orders),
    g AS (
      SELECT sucursal, od, SUM(ticket_tip) AS tips_sum,
        SUM(ticket_tip) + CASE WHEN day(od) % 11 = 0
          THEN 1000.0 ELSE 0.0 END AS tips_expected
      FROM t GROUP BY 1, 2)
    SELECT sucursal, strftime(od, '%Y-%m-%d') AS operating_date,
           tips_sum, tips_expected
    FROM g
    WHERE abs(COALESCE(tips_sum, 0) - COALESCE(tips_expected, 0)) > 0.05"""

  // ---------------------------------------------------------------- F4
  /** Integer-money parse (cleaning_utils.py:200-222): to_float then
    * banker's rounding, over three synthesized formats. Exact .50
    * ties are filtered on BOTH sides (their banker's behavior is
    * covered by CleaningSpec); everything else rounds identically. */
  val q35ParseInt: Q = (s, d) => {
    import s.implicits._
    val dec = $"c_acctbal".cast("decimal(18,2)")
    val ds = dec.cast("string")
    val v = pmod($"c_custkey", lit(3))
    val raw = when(v === 0, ds)
      .when(v === 1, concat(lit("("), ds, lit(")")))
      .otherwise(regexp_replace(ds, "\\.", ","))
    Tables.customer(s, d)
      .filter(!((dec * 100).cast("long") % 100).isin(50, -50))
      .select($"c_custkey", parseIntMoney(raw).as("parsed"))
  }
  val o35: String = """
    SELECT c_custkey,
      CAST(round_even(CASE WHEN c_custkey % 3 = 1 THEN -v ELSE v END, 0)
        AS BIGINT) AS parsed
    FROM (SELECT c_custkey,
            CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS v,
            CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM customer)
    WHERE cents % 100 NOT IN (50, -50)"""

  // ---------------------------------------------------------------- P6
  /** Pivot-column keyword filter (sales_by_group.py:176-204 /
    * SalesByGroup driver-side schema selection): pivot with a fixed
    * value list, then keep only the measure columns whose NAME
    * contains the keyword — a schema decision made on df.columns, not
    * row data. */
  val q36KeywordCols: Q = (s, d) => {
    import s.implicits._
    val piv = Tables.events(s, d)
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("fecha"))
      .pivot("event_type",
        Seq("click", "view", "signup", "purchase", "error"))
      .agg(decSum($"value", 2))
    val kept = piv.columns.filter(c => c == "fecha" || c.contains("u"))
    piv.select(kept.map(col).toSeq: _*)
  }
  val o36: String = """
    SELECT strftime(ts, '%Y-%m-%d') AS fecha,
      CAST(SUM(CASE WHEN event_type = 'signup'
        THEN CAST(value AS DECIMAL(28,2)) END) AS DOUBLE) AS signup,
      CAST(SUM(CASE WHEN event_type = 'purchase'
        THEN CAST(value AS DECIMAL(28,2)) END) AS DOUBLE) AS purchase
    FROM events GROUP BY 1"""

  // ------------------------------------- J3/J4/A2/A3/A4/A5/F17 (e2e)
  /** The flagship payments-daily mart builder, end-to-end: ticket
    * lines synthesized from `lineitem` (several payment rows per
    * ticket, so tickets vs lines actually matters) run through the
    * REAL [[PaymentsDaily.aggregate]] — bucket sums, tips, ticket and
    * elimination counts + banker's pct, holiday flag
    * (payments_daily.py:341-469). Totals and tips are integer-valued
    * doubles so every sum is exact. */
  val q37PaymentsMart: Q = (s, d) => {
    import s.implicits._
    val suc = element_at(array(lit("Kavia"), lit("Nativa"), lit("Carreta")),
      (pmod($"l_suppkey", lit(3)) + 1).cast("int"))
    val method = element_at(array(lit(" EFECTIVO "),
      lit("Tarjeta de Crédito"), lit("Tarjeta Débito"),
      lit("Uber Eats MX"), lit("Cheque")),
      (pmod($"l_linenumber", lit(5)) + 1).cast("int"))
    val fact = Tables.lineitem(s, d).select(
      suc.as("sucursal"),
      $"l_shipdate".cast("date").as("operating_date"),
      method.as("payment_method"),
      pmod($"l_orderkey" + $"l_linenumber" * 7, lit(500)).cast("double")
        .as("ticket_total"),
      pmod($"l_partkey", lit(20)).cast("double").as("ticket_tip"),
      $"l_orderkey".as("order_index"),
      ($"l_returnflag" === "R").as("elimination_present"))
    val hols = Set("1995-12-25", "1996-05-01")
      .map(java.time.LocalDate.parse)
    PaymentsDaily.aggregate(fact, hols)
      .withColumn("fecha", date_format($"fecha", "yyyy-MM-dd"))
  }
  val o37: String = """
    WITH f AS (
      SELECT CASE l_suppkey % 3 WHEN 0 THEN 'Kavia' WHEN 1 THEN 'Nativa'
               ELSE 'Carreta' END AS sucursal,
             CAST(l_shipdate AS DATE) AS fecha,
             l_linenumber % 5 AS mk,
             CAST((l_orderkey + l_linenumber * 7) % 500 AS DOUBLE) AS total,
             CAST(l_partkey % 20 AS DOUBLE) AS tip,
             l_orderkey AS oid,
             (l_returnflag = 'R') AS elim
      FROM lineitem),
    g AS (
      SELECT sucursal, fecha,
        SUM(CASE WHEN mk = 0 THEN total ELSE 0 END) AS ingreso_efectivo,
        SUM(CASE WHEN mk = 1 THEN total ELSE 0 END) AS ingreso_credito,
        SUM(CASE WHEN mk = 2 THEN total ELSE 0 END) AS ingreso_debito,
        0.0 AS ingreso_amex,
        SUM(CASE WHEN mk = 3 THEN total ELSE 0 END) AS ingreso_ubereats,
        0.0 AS ingreso_rappi,
        0.0 AS ingreso_transferencia,
        0.0 AS "ingreso_SubsidioTEC",
        SUM(CASE WHEN mk = 4 THEN total ELSE 0 END) AS ingreso_otros,
        SUM(tip) AS propinas,
        COUNT(DISTINCT oid) AS num_tickets,
        COUNT(DISTINCT CASE WHEN elim THEN oid END)
          AS tickets_with_eliminations
      FROM f GROUP BY 1, 2)
    SELECT sucursal, strftime(fecha, '%Y-%m-%d') AS fecha,
      ingreso_efectivo, ingreso_credito, ingreso_debito, ingreso_amex,
      ingreso_ubereats, ingreso_rappi, ingreso_transferencia,
      "ingreso_SubsidioTEC", ingreso_otros, propinas, num_tickets,
      tickets_with_eliminations,
      CASE WHEN num_tickets = 0 THEN 0.0
           ELSE round_even(tickets_with_eliminations * 100.0
                           / num_tickets, 2)
      END AS pct_tickets_with_eliminations,
      strftime(fecha, '%Y-%m-%d') IN ('1995-12-25', '1996-05-01')
        AS is_national_holiday
    FROM g"""

  // --------------------------------- S7/S8-F16/P1/P2/F3/F5/J1 (e2e)
  /** The full bronze→fact payments cleaner, end-to-end over a
    * synthesized raw grid: metadata + header rows unioned with body
    * rows built from `orders` (dd/MM dates, EU-comma money on odd
    * keys, a Cajero column whose modal value supplies the missing
    * sucursal, fully-blank rows to drop, noise columns to drop, and
    * an eliminations block joined back as a flag). The Spark side runs
    * the REAL [[PaymentsCleaner.clean]]; the oracle restates the
    * surviving fact rows from the original `orders` values
    * (payments_cleaner.py:126-686).
    *
    * The grid is a 1-in-15 key subset of `orders`: a bronze grid is
    * ONE exported file in this domain (a few thousand rows), so the
    * fixture should not grow linearly with corpus scale — the
    * cleaner's driver pre-pass + modal census + parse passes are
    * per-file costs by design. */
  val q38StagingClean: Q = (s, d) => {
    import s.implicits._
    val header = Seq(
      (0L, "Reporte de pagos", "", "", "", "", "", ""),
      (1L, "", "", "", "", "", "", ""),
      (2L, "Fecha", "Orden", "Forma de pago", "Total", "Total", "Cajero",
        "Participación del día"))
      .toDF("_row", "_c0", "_c1", "_c2", "_c3", "_c4", "_c5", "_c6")
    val blank = pmod($"o_orderkey", lit(97)) === 0
    def cell(c: org.apache.spark.sql.Column) =
      when(blank, lit("")).otherwise(c)
    val ds = $"o_totalprice".cast("decimal(18,2)").cast("string")
    val body = Tables.orders(s, d)
      .filter(pmod($"o_orderkey", lit(15)) === 0)
      .select(
      ($"o_orderkey" + 10).as("_row"),
      cell(date_format($"o_orderdate", "dd/MM/yyyy")).as("_c0"),
      cell($"o_orderkey".cast("string")).as("_c1"),
      cell(element_at(array(lit("Efectivo"), lit("Tarjeta Crédito"),
        lit("Tarjeta Débito")),
        (pmod($"o_orderkey", lit(3)) + 1).cast("int"))).as("_c2"),
      cell(ds).as("_c3"),
      cell(when(pmod($"o_orderkey", lit(2)) === 1,
        regexp_replace(ds, "\\.", ",")).otherwise(ds)).as("_c4"),
      cell(element_at(array(lit("ANA"), lit("ANA"), lit("LUIS"),
        lit("22")), (pmod($"o_custkey", lit(4)) + 1).cast("int")))
        .as("_c5"),
      cell(lit("0.5")).as("_c6"))
    val raw = header.unionByName(body)
    val elim = Tables.orders(s, d)
      .filter(pmod($"o_orderkey", lit(15)) === 0 &&
        pmod($"o_orderkey", lit(10)) === 0)
      .select(date_format($"o_orderdate", "dd/MM/yyyy")
        .as("Fecha de operación"),
        $"o_orderkey".cast("string").as("Orden"))
    PaymentsCleaner.clean(raw, "", Some(elim))
      .withColumn("operating_date",
        date_format($"operating_date", "yyyy-MM-dd"))
  }
  val o38: String = """
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
             AS operating_date,
           o_orderkey AS order_index,
           CASE o_orderkey % 3 WHEN 0 THEN 'Efectivo'
                WHEN 1 THEN 'Tarjeta Crédito'
                ELSE 'Tarjeta Débito' END AS payment_method,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             AS day_total,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             AS ticket_total,
           'ANA' AS sucursal,
           (o_orderkey % 10 = 0) AS elimination_present
    FROM orders WHERE o_orderkey % 15 = 0 AND o_orderkey % 97 <> 0"""

  // ------------------------------------------------------ W7/W9 (e2e)
  /** Payments mart synthesized from `events`: sucursal = event_type,
    * buckets split by user hash, money as integer CENTS carried in
    * DOUBLE columns. Every downstream double sum in the forecast
    * orchestration therefore stays on integers < 2⁵³ — exact in IEEE
    * regardless of partition/summation order, so the e2e pipeline is
    * hash-comparable with no decimal routing. */
  private def forecastMart(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def bucket(r: Int) =
      (sum(when(pmod($"user_id", lit(3)) === r,
          $"value".cast("decimal(28,2)"))
        .otherwise(lit(0).cast("decimal(28,2)"))) * 100)
        .cast("long").cast("double")
    Tables.events(s, d)
      .groupBy($"event_type".as("sucursal"), to_date($"ts").as("fecha"))
      .agg(bucket(0).as("ingreso_efectivo"),
        bucket(1).as("ingreso_credito"),
        bucket(2).as("ingreso_debito"))
  }

  /** The REAL orchestration path ([[Forecast.runPaymentsForecast]]):
    * ingreso_total → densify → ≥ minObs guard → NaiveLastWeek →
    * deposit schedule. Holidays are derived from the data (max date
    * −6/−13) so the lag-7 candidate skip fires deterministically: the
    * first two weeks-back candidates of early targets are
    * holiday-adjacent and the model must walk to k=3
    * (naive.py:92-176, api.py:179-362). minObs=14 (not the default
    * 30) so a driver-side regeneration with a shorter range cannot
    * turn the guard into a data-dependent throw. */
  private def forecastRun(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val mart = forecastMart(s, d)
    val maxD = mart.agg(max($"fecha")).collect()(0).getDate(0).toLocalDate
    val hols = Set(maxD.minusDays(6), maxD.minusDays(13))
    Forecast.runPaymentsForecast(mart, horizonDays = 7, holidays = hols,
      minObs = 14)
  }

  private val forecastSqlBase: String = """
    mart AS (
      SELECT event_type AS sucursal, CAST(ts AS DATE) AS fecha,
        CAST(CAST(SUM(CASE WHEN user_id % 3 = 0
              THEN CAST(value AS DECIMAL(28,2))
              ELSE CAST(0 AS DECIMAL(28,2)) END) * 100 AS BIGINT)
          AS DOUBLE) AS ingreso_efectivo,
        CAST(CAST(SUM(CASE WHEN user_id % 3 = 1
              THEN CAST(value AS DECIMAL(28,2))
              ELSE CAST(0 AS DECIMAL(28,2)) END) * 100 AS BIGINT)
          AS DOUBLE) AS ingreso_credito,
        CAST(CAST(SUM(CASE WHEN user_id % 3 = 2
              THEN CAST(value AS DECIMAL(28,2))
              ELSE CAST(0 AS DECIMAL(28,2)) END) * 100 AS BIGINT)
          AS DOUBLE) AS ingreso_debito
      FROM events GROUP BY 1, 2),
    longm AS (
      SELECT * FROM (
        SELECT sucursal, fecha, 'ingreso_efectivo' AS metric,
               ingreso_efectivo AS valor FROM mart
        UNION ALL SELECT sucursal, fecha, 'ingreso_credito',
               ingreso_credito FROM mart
        UNION ALL SELECT sucursal, fecha, 'ingreso_debito',
               ingreso_debito FROM mart
        UNION ALL SELECT sucursal, fecha, 'ingreso_total',
               ingreso_efectivo + ingreso_credito + ingreso_debito
               FROM mart)
      WHERE sucursal IS NOT NULL),
    cal AS (
      SELECT sucursal, metric, unnest(generate_series(min(fecha),
             max(fecha), INTERVAL 1 DAY))::DATE AS fecha
      FROM longm GROUP BY sucursal, metric),
    series AS (
      SELECT cal.sucursal, cal.metric, cal.fecha,
             COALESCE(SUM(longm.valor), 0.0) AS valor
      FROM cal LEFT JOIN longm
        ON cal.sucursal = longm.sucursal AND cal.metric = longm.metric
       AND cal.fecha = longm.fecha
      GROUP BY cal.sucursal, cal.metric, cal.fecha),
    hol AS (
      SELECT ((SELECT max(fecha) FROM mart) - 6) AS h
      UNION ALL SELECT ((SELECT max(fecha) FROM mart) - 13)),
    bounds AS (
      SELECT sucursal, metric, max(fecha) AS last_date
      FROM series GROUP BY 1, 2 HAVING COUNT(*) >= 14),
    targets AS (
      SELECT sucursal, metric, last_date,
             last_date + step::INTEGER AS fecha
      FROM bounds, generate_series(1, 7) AS st(step)),
    cands AS (
      SELECT t.sucursal, t.metric, t.fecha, ks.k,
             t.fecha - (7 * ks.k)::INTEGER AS src
      FROM targets t, generate_series(1, 52) AS ks(k)
      WHERE t.fecha - (7 * ks.k)::INTEGER <= t.last_date
        AND NOT EXISTS (SELECT 1 FROM hol
          WHERE hol.h BETWEEN t.fecha - (7 * ks.k)::INTEGER - 1
                          AND t.fecha - (7 * ks.k)::INTEGER + 1)),
    firstc AS (
      SELECT *, row_number() OVER (PARTITION BY sucursal, metric, fecha
                                   ORDER BY k) AS rn
      FROM cands),
    fc AS (
      SELECT f.sucursal, f.fecha, f.metric,
             COALESCE(s.valor, 0.0) AS valor
      FROM firstc f LEFT JOIN series s
        ON f.sucursal = s.sucursal AND f.metric = s.metric
       AND f.src = s.fecha
      WHERE f.rn = 1
      UNION ALL
      SELECT t.sucursal, t.fecha, t.metric, 0.0 AS valor
      FROM targets t ANTI JOIN cands c
        ON t.sucursal = c.sucursal AND t.metric = c.metric
       AND t.fecha = c.fecha)"""

  /** NaiveLastWeek forecast END-TO-END through the real orchestration
    * (densify → guard → model → long frame). The oracle restates the
    * lag-7-with-holiday-skip candidate walk in SQL. */
  val q206NaiveForecastE2e: Q = (s, d) => {
    import s.implicits._
    val (fc, _) = forecastRun(s, d)
    fc.select($"sucursal", date_format($"fecha", "yyyy-MM-dd").as("fecha"),
      $"metric", $"valor")
  }
  val o206: String = s"""
    WITH $forecastSqlBase
    SELECT sucursal, strftime(fecha, '%Y-%m-%d') AS fecha, metric, valor
    FROM fc"""

  /** Deposit schedule END-TO-END from the same forecast run
    * ([[Forecast.depositSchedule]]): hist-else-forecast daily totals,
    * weekday-conditional cash/card batching summed across branches
    * (cash_flow.py:19-85). DuckDB dayofweek is 0=Sun..6=Sat vs
    * Spark's 1..7 — the CASE arms are shifted accordingly. */
  val q207DepositFlowE2e: Q = (s, d) => {
    import s.implicits._
    val (_, dep) = forecastRun(s, d)
    dep.select(date_format($"fecha", "yyyy-MM-dd").as("fecha"),
      $"efectivo", $"credito", $"debito", $"total")
  }
  val o207: String = s"""
    WITH $forecastSqlBase,
    lasth AS (SELECT max(fecha) AS lh FROM mart),
    histdaily AS (
      SELECT fecha AS dday, SUM(ingreso_efectivo) AS ingreso_efectivo,
             SUM(ingreso_credito) AS ingreso_credito,
             SUM(ingreso_debito) AS ingreso_debito
      FROM mart GROUP BY 1),
    fcdaily AS (
      SELECT fecha AS dday,
        SUM(CASE WHEN metric = 'ingreso_efectivo' THEN valor
                 ELSE 0.0 END) AS ingreso_efectivo,
        SUM(CASE WHEN metric = 'ingreso_credito' THEN valor
                 ELSE 0.0 END) AS ingreso_credito,
        SUM(CASE WHEN metric = 'ingreso_debito' THEN valor
                 ELSE 0.0 END) AS ingreso_debito
      FROM fc GROUP BY 1),
    dailyu AS (
      SELECT * FROM histdaily WHERE dday <= (SELECT lh FROM lasth)
      UNION ALL
      SELECT * FROM fcdaily WHERE dday > (SELECT lh FROM lasth)),
    deps AS (SELECT DISTINCT fecha AS dep FROM fc),
    cashsrc AS (
      SELECT dep, unnest(CASE dayofweek(dep)
        WHEN 1 THEN [dep - 3, dep - 2, dep - 1]
        WHEN 3 THEN [dep - 2, dep - 1]
        WHEN 5 THEN [dep - 2, dep - 1]
        ELSE [] END) AS dday
      FROM deps),
    cardsrc AS (
      SELECT dep, unnest(CASE dayofweek(dep)
        WHEN 1 THEN [dep - 3, dep - 2, dep - 1]
        WHEN 0 THEN [dep - 2]
        WHEN 6 THEN [dep - 1]
        ELSE [dep - 1] END) AS dday
      FROM deps),
    cash AS (
      SELECT dep, COALESCE(SUM(COALESCE(du.ingreso_efectivo, 0.0)), 0.0)
               AS efectivo
      FROM cashsrc c LEFT JOIN dailyu du ON c.dday = du.dday
      GROUP BY dep),
    cred AS (
      SELECT dep, COALESCE(SUM(COALESCE(du.ingreso_credito, 0.0)), 0.0)
               AS credito
      FROM cardsrc c LEFT JOIN dailyu du ON c.dday = du.dday
      GROUP BY dep),
    deb AS (
      SELECT dep, COALESCE(SUM(COALESCE(du.ingreso_debito, 0.0)), 0.0)
               AS debito
      FROM cardsrc c LEFT JOIN dailyu du ON c.dday = du.dday
      GROUP BY dep)
    SELECT strftime(deps.dep, '%Y-%m-%d') AS fecha,
           COALESCE(cash.efectivo, 0.0) AS efectivo,
           COALESCE(cred.credito, 0.0) AS credito,
           COALESCE(deb.debito, 0.0) AS debito,
           COALESCE(cash.efectivo, 0.0) + COALESCE(cred.credito, 0.0)
             + COALESCE(deb.debito, 0.0) AS total
    FROM deps
    LEFT JOIN cash ON deps.dep = cash.dep
    LEFT JOIN cred ON deps.dep = cred.dep
    LEFT JOIN deb ON deps.dep = deb.dep"""

  val queries: Map[String, Q] = Map(
    "q206_naive_forecast_e2e" -> q206NaiveForecastE2e,
    "q207_deposit_flow_e2e" -> q207DepositFlowE2e,
    "q38_staging_clean" -> q38StagingClean,
    "q37_payments_mart" -> q37PaymentsMart,
    "q27_transfer_bucket" -> q27TransferBucket,
    "q28_unmapped_loss" -> q28UnmappedLoss,
    "q29_transfer_pivot" -> q29TransferPivot,
    "q30_holiday_adjacent" -> q30HolidayAdjacent,
    "q31_modal_fallback" -> q31ModalFallback,
    "q32_header_table" -> q32HeaderTable,
    "q33_qa_levels" -> q33QaLevels,
    "q34_tip_sanity" -> q34TipSanity,
    "q35_parse_int" -> q35ParseInt,
    "q36_keyword_cols" -> q36KeywordCols)

  val oracles: Map[String, String] = Map(
    "q206_naive_forecast_e2e" -> o206,
    "q207_deposit_flow_e2e" -> o207,
    "q38_staging_clean" -> o38,
    "q37_payments_mart" -> o37,
    "q27_transfer_bucket" -> o27,
    "q28_unmapped_loss" -> o28,
    "q29_transfer_pivot" -> o29,
    "q30_holiday_adjacent" -> o30,
    "q31_modal_fallback" -> o31,
    "q32_header_table" -> o32,
    "q33_qa_levels" -> o33,
    "q34_tip_sanity" -> o34,
    "q35_parse_int" -> o35,
    "q36_keyword_cols" -> o36)
}
