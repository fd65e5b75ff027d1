package graft.ops

import graft.Tables
import graft.functions.Cleaning._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operators (SURVEY §2.2, §2.4, §2.5, §2.7, §2.8)
  * demonstrated over the driver's TPC-H-ish testdata.
  *
  * Determinism/oracle-parity conventions:
  *  - money sums go through decimal(18,2) then cast to double (exact,
  *    order-independent → bit-identical to DuckDB);
  *  - per-row double arithmetic is left raw (IEEE ops are identical);
  *  - every ranking has a total tie-break key.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- A1
  /** Grouped multi-aggregate (pricing summary; SURVEY A1/A3/A6 family —
    * the reference's groupBy-sum marts, payments_daily.py:400-423). */
  val q01AggPricing: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        decSum($"l_quantity", 2).as("sum_qty"),
        moneySum($"l_extendedprice").as("sum_base_price"),
        sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(28,6)")).cast("double").as("sum_disc_price"),
        (sum($"l_quantity".cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }
  val o01 = """
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      COUNT(*) AS count_order
    FROM lineitem GROUP BY l_returnflag, l_linestatus"""

  // ------------------------------------------------------------ P3/P4/F17
  /** Predicate pushdown + projection: date-range + membership filter,
    * derived per-row arithmetic (reference P3/P4/F17). */
  val q02FilterProject: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate".cast("date")
        .between(lit("1995-06-01"), lit("1997-06-30")) &&
        $"l_returnflag".isin("A", "R"))
      .select($"l_orderkey", $"l_linenumber",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
  }
  val o02 = """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-06-01' AND DATE '1997-06-30'
      AND l_returnflag IN ('A','R')"""

  // ---------------------------------------------------------------- J3
  /** Multi-way broadcast join + aggregate (mart assembly J3). */
  val q03JoinAgg: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"),
        moneySum($"c_acctbal").as("sum_acctbal"))
  }
  val o03 = """
    SELECT r_name, n_name, COUNT(*) AS n_customers,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name"""

  // ---------------------------------------------------------------- A4
  /** Exact count-distinct per group (num_tickets, payments_daily.py:426-437). */
  val q04CountDistinct: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(countDistinct($"o_custkey").as("n_custs"),
        count(lit(1)).as("n_orders"))
  }
  val o04 = """
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority"""

  // ---------------------------------------------------------------- A5
  /** Conditional count-distinct (tickets_with_eliminations,
    * payments_daily.py:440-451). */
  val q05CondCountDistinct: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_linestatus")
      .agg(countDistinct(when($"l_returnflag" === "R", $"l_orderkey"))
        .as("n_returned_orders"),
        countDistinct($"l_orderkey").as("n_orders"))
  }
  val o05 = """
    SELECT l_linestatus,
      COUNT(DISTINCT CASE WHEN l_returnflag='R' THEN l_orderkey END) AS n_returned_orders,
      COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem GROUP BY l_linestatus"""

  // ---------------------------------------------------------------- J1
  /** Left join + existence flag (eliminations flag,
    * payments_cleaner.py:597-650): dedup right side, left join, null→false. */
  val q06LeftFlag: Q = (s, d) => {
    import s.implicits._
    val returned = Tables.lineitem(s, d)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey").distinct()
      .withColumn("flag", lit(true))
    Tables.orders(s, d)
      .join(returned, $"o_orderkey" === $"l_orderkey", "left")
      .withColumn("has_return", coalesce($"flag", lit(false)))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"has_return", 1L).otherwise(0L)).as("n_flagged"))
  }
  val o06 = """
    SELECT o_orderstatus, COUNT(*) AS n_total,
      CAST(SUM(CASE WHEN r.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM orders
    LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag='R') r
      ON o_orderkey = r.l_orderkey
    GROUP BY o_orderstatus"""

  // ---------------------------------------------------------------- A2
  /** Fixed-domain pivot (9-bucket income pivot, payments_daily.py:405-417):
    * value list passed explicitly → no discovery pass; null→0. */
  val q07PivotFixed: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum($"l_quantity".cast("decimal(18,2)")).cast("double"))
      .na.fill(0.0, Seq("A", "N", "R"))
  }
  val o07 = """
    SELECT l_linestatus,
      COALESCE(CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0) AS A,
      COALESCE(CAST(SUM(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0) AS N,
      COALESCE(CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0) AS R
    FROM lineitem GROUP BY l_linestatus"""

  // ---------------------------------------------------------------- A10
  /** Unpivot/melt wide→long then re-aggregate (sales_by_group.py:305-354). */
  val q08Unpivot: Q = (s, d) => {
    import s.implicits._
    q07PivotFixed(s, d)
      .select($"l_linestatus",
        expr("stack(3, 'A', A, 'N', N, 'R', R) as (l_returnflag, qty)"))
  }
  val o08 = """
    WITH p AS (
      SELECT l_linestatus,
        COALESCE(CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0) AS A,
        COALESCE(CAST(SUM(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0) AS N,
        COALESCE(CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0) AS R
      FROM lineitem GROUP BY l_linestatus)
    SELECT l_linestatus, 'A' AS l_returnflag, A AS qty FROM p
    UNION ALL SELECT l_linestatus, 'N', N FROM p
    UNION ALL SELECT l_linestatus, 'R', R FROM p"""

  // ---------------------------------------------------------------- A12
  /** Rollup with TOTAL row semantics (transfers pivot totals,
    * etl/marts/transfers.py:213-246): rollup + NULL→'TOTAL'. */
  val q09Rollup: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(moneySum($"l_extendedprice").as("total_price"),
        count(lit(1)).as("n"))
      .select(coalesce($"l_returnflag", lit("TOTAL")).as("l_returnflag"),
        coalesce($"l_linestatus", lit("TOTAL")).as("l_linestatus"),
        $"total_price", $"n")
  }
  val o09 = """
    SELECT COALESCE(l_returnflag, 'TOTAL') AS l_returnflag,
           COALESCE(l_linestatus, 'TOTAL') AS l_linestatus,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""

  // ------------------------------------------------------------ window
  /** Ranked top-N per group (window row_number with total tie-break). */
  val q10WindowTopN: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".desc, $"c_custkey".asc)
    Tables.customer(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"c_nationkey", $"c_custkey", $"c_acctbal", $"rn")
  }
  val o10 = """
    SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
        ROW_NUMBER() OVER (PARTITION BY c_nationkey
          ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer) WHERE rn <= 3"""

  // ---------------------------------------------------------------- J5
  /** SCD2-style validity-window (range) join against a small broadcast
    * dimension (branches.py:60-127): open-ended valid_to IS NULL. */
  val q12RangeJoin: Q = (s, d) => {
    import s.implicits._
    val dim = s.createDataFrame(Seq(
      ("era1", "1995-01-01", "1996-12-31"),
      ("era2", "1997-01-01", "1998-12-31"),
      ("era3", "1999-01-01", null)
    )).toDF("era", "valid_from", "valid_to")
      .select($"era", $"valid_from".cast("date"),
        $"valid_to".cast("date"))
    val o = Tables.orders(s, d)
      .withColumn("od", $"o_orderdate".cast("date"))
    o.join(broadcast(dim),
        $"od" >= $"valid_from" &&
          ($"valid_to".isNull || $"od" <= $"valid_to"))
      .groupBy($"era")
      .agg(count(lit(1)).as("n_orders"),
        moneySum($"o_totalprice").as("sum_price"))
  }
  val o12 = """
    SELECT era, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    JOIN (VALUES ('era1', DATE '1995-01-01', DATE '1996-12-31'),
                 ('era2', DATE '1997-01-01', DATE '1998-12-31'),
                 ('era3', DATE '1999-01-01', NULL)) dim(era, valid_from, valid_to)
      ON CAST(o_orderdate AS DATE) >= valid_from
     AND (valid_to IS NULL OR CAST(o_orderdate AS DATE) <= valid_to)
    GROUP BY era"""

  // ---------------------------------------------------------------- U1
  /** unionByName with missing columns (multi-file concat U1,
    * payments_daily.py:339). */
  val q13Union: Q = (s, d) => {
    import s.implicits._
    val o = Tables.orders(s, d)
    val hi = o.filter($"o_totalprice" >= 150000.0)
      .select($"o_orderkey", $"o_totalprice", lit("HIGH").as("band"))
    val lo = o.filter($"o_totalprice" < 150000.0)
      .select($"o_orderkey", lit("LOW").as("band"))
    hi.unionByName(lo, allowMissingColumns = true)
      .groupBy($"band")
      .agg(count(lit(1)).as("n"),
        moneySum($"o_totalprice").as("sum_price"))
  }
  val o13 = """
    WITH u AS (
      SELECT o_orderkey, o_totalprice, 'HIGH' AS band FROM orders WHERE o_totalprice >= 150000.0
      UNION ALL
      SELECT o_orderkey, NULL AS o_totalprice, 'LOW' AS band FROM orders WHERE o_totalprice < 150000.0)
    SELECT band, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM u GROUP BY band"""

  // ---------------------------------------------------------------- A13
  /** Monthly aggregation (year_month bucketing, qa_payments.py:704-815). */
  val q14Monthly: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(date_format($"ts", "yyyy-MM").as("year_month"),
        $"event_type")
      .agg(decSum($"value", 2).as("sum_value"),
        count(lit(1)).as("n_events"))
  }
  val o14 = """
    SELECT strftime(ts, '%Y-%m') AS year_month, event_type,
      CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value,
      COUNT(*) AS n_events
    FROM events GROUP BY 1, 2"""

  // ---------------------------------------------------------------- U6
  /** Deterministic seeded sample (qa_payments.py:823-965 uses seeded rng;
    * at scale we use a stable hash-mod so any engine reproduces it). */
  val q15SampleDet: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d)
      // mod-prime reduce BEFORE the multiply — key·A overflows Int64
      // for keys ≥ ~3.47e9; p·A fits (identical bits for keys < p)
      .filter((pmod($"c_custkey", lit(1000000007L)) *
        lit(2654435761L)) % 100 < 5)
      .select($"c_custkey", $"c_name", $"c_acctbal")
  }
  val o15 = """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE ((c_custkey % 1000000007) * 2654435761) % 100 < 5"""

  // ---------------------------------------------------------------- U3/U5
  /** Ordered top-K with total tie-break (U3 ordered output + U5 limit). */
  val q16TopK: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }
  val o16 = """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""

  // ---------------------------------------------------------------- Q8/W2
  /** Grain assertion: duplicate-key audit as a 1-row summary
    * (tests/test_grain_assertions.py; qa_payments.py:300-328). */
  val q17GrainCheck: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_orderkey", $"l_linenumber")
      .agg(count(lit(1)).as("c"))
      .filter($"c" > 1)
      .agg(count(lit(1)).cast("long").as("n_dup_keys"),
        coalesce(sum($"c"), lit(0L)).cast("long").as("n_dup_rows"))
  }
  val o17 = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_keys,
           CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_dup_rows
    FROM (SELECT COUNT(*) AS c FROM lineitem
          GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)"""

  // ---------------------------------------------------------------- Q2/Q3
  /** QA summary: null counts + negativity counts in one row
    * (qa_payments.py:507-583). */
  val q18QaSummary: Q = (s, d) => {
    import s.implicits._
    val o = Tables.orders(s, d).agg(
      sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("null_custkey"),
      sum(when($"o_orderdate".isNull, 1L).otherwise(0L)).as("null_orderdate"),
      sum(when($"o_totalprice" < -1e-6, 1L).otherwise(0L)).as("neg_totalprice"))
    val l = Tables.lineitem(s, d).agg(
      sum(when($"l_extendedprice" < -1e-6, 1L).otherwise(0L)).as("neg_extendedprice"),
      sum(when($"l_quantity" < -1e-6, 1L).otherwise(0L)).as("neg_quantity"))
    o.crossJoin(l)
  }
  val o18 = """
    SELECT * FROM
      (SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
              CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderdate,
              CAST(SUM(CASE WHEN o_totalprice < -1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS neg_totalprice
       FROM orders)
    CROSS JOIN
      (SELECT CAST(SUM(CASE WHEN l_extendedprice < -1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS neg_extendedprice,
              CAST(SUM(CASE WHEN l_quantity < -1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS neg_quantity
       FROM lineitem)"""

  // ---------------------------------------------------------------- A14
  /** Per-entity profile: count/min/max/sum + null-safe average
    * (qa_payments.py:672-696). */
  val q19Profile: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_customers"),
        min($"c_custkey").as("min_custkey"),
        max($"c_custkey").as("max_custkey"),
        moneySum($"c_acctbal").as("sum_acctbal"))
      .withColumn("avg_acctbal",
        when($"n_customers" === 0, lit(null).cast("double"))
          .otherwise($"sum_acctbal" / $"n_customers"))
  }
  val o19 = """
    SELECT n_name, n_customers, min_custkey, max_custkey, sum_acctbal,
      CASE WHEN n_customers = 0 THEN NULL
           ELSE sum_acctbal / n_customers END AS avg_acctbal
    FROM (
      SELECT n_name, COUNT(*) AS n_customers,
        MIN(c_custkey) AS min_custkey, MAX(c_custkey) AS max_custkey,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name)"""

  // ------------------------------------------------------ star flagship
  /** Six-table star join (the TPC-H Q5 "local supplier volume" shape):
    * fact-fact join on orderkey, customer and supplier enriched with
    * the SAME-nation constraint, dims broadcast, one year of orders in
    * one region. The flagship relational plan: both fact joins shuffle
    * on their join keys; nation/region (25/5 rows) broadcast so the
    * enrichment never exchanges; the date filter pushes to the orders
    * scan and the region filter prunes the broadcast side before the
    * join. Revenue routes through exact decimals (order-independent).
    *
    * 100 TB design: lineitem⋈orders is the only big-big join — on a
    * cluster both sides would be bucketed on orderkey so it is
    * co-located; customer is the next-largest side and AQE picks
    * broadcast vs shuffle by measured size. Nothing here scales worse
    * than the fact table. */
  val q127StarJoin: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp")),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(Tables.supplier(s, d),
        $"l_suppkey" === $"s_suppkey" &&
          $"c_nationkey" === $"s_nationkey")
      .join(broadcast(Tables.nation(s, d)),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast("decimal(28,6)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }
  val o127 = """
    SELECT n_name,
      CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
    GROUP BY n_name"""

  // ------------------------------------------------------ table profiler
  /** Profiled lineitem columns: (name, is numeric). Shared by the
    * Spark plan and the generated oracle so the two cannot drift. */
  private val ProfileCols: Seq[(String, Boolean)] = Seq(
    "l_orderkey" -> true, "l_partkey" -> true, "l_suppkey" -> true,
    "l_linenumber" -> true, "l_quantity" -> true,
    "l_extendedprice" -> true, "l_discount" -> true, "l_tax" -> true,
    "l_returnflag" -> false, "l_linestatus" -> false)

  /** Whole-table column profiler: per column, null count, exact
    * distinct count, and numeric min/max — the first query every data
    * engineer runs on a new drop, and the health check an ingest
    * pipeline schedules per partition. ONE aggregate pass computes all
    * forty measures; the single result row is then unpivoted in-row to
    * the (column, metric) shape dashboards consume.
    *
    * 100 TB design: the scan runs once; the multiple exact distincts
    * expand the aggregate input ×columns (Spark's expand-based
    * multi-distinct) — exact by design here because the oracle checks
    * it; a production profiler at petabyte scale swaps them for HLL
    * sketches and keeps everything else identical. The final explode
    * is over one row. */
  val q128TableProfile: Q = (s, d) =>
    tableProfile(Tables.lineitem(s, d), countDistinct(_), "n_distinct")

  /** The profile body shared by q128 and q155: one aggregate pass
    * over [[ProfileCols]] with `distinct` as the per-column distinct
    * measure (reported as `distinctName`), unpivoted in-row. */
  private def tableProfile(li: DataFrame, distinct: Column => Column,
                           distinctName: String): DataFrame = {
    val aggs = ProfileCols.flatMap { case (c, isNum) =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        distinct(col(c)).as(s"${c}__dist"),
        (if (isNum) min(col(c)).cast("double") else lit(null).cast("double"))
          .as(s"${c}__min"),
        (if (isNum) max(col(c)).cast("double") else lit(null).cast("double"))
          .as(s"${c}__max"))
    }
    val rows = ProfileCols.map { case (c, _) =>
      s"""named_struct('column_name', '$c',
            'n_nulls', ${c}__nulls, '$distinctName', ${c}__dist,
            'min_num', ${c}__min, 'max_num', ${c}__max)"""
    }.mkString("array(", ", ", ")")
    li.agg(aggs.head, aggs.tail: _*)
      .select(explode(expr(rows)).as("p"))
      .select(col("p.column_name"), col("p.n_nulls"),
        col(s"p.$distinctName"), col("p.min_num"), col("p.max_num"))
  }
  val o128: String = ProfileCols.map { case (c, isNum) =>
    val mn = if (isNum) s"CAST(MIN($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
    val mx = if (isNum) s"CAST(MAX($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
    s"""SELECT '$c' AS column_name,
          COUNT(*) - COUNT($c) AS n_nulls,
          COUNT(DISTINCT $c) AS n_distinct,
          $mn AS min_num, $mx AS max_num
        FROM lineitem"""
  }.mkString("\nUNION ALL\n")

  /** The 100 TB spelling of [[q128TableProfile]]: HLL++ sketches
    * (`approx_count_distinct`, 5% default rsd) replace the exact
    * multi-distinct, so the whole profile is ONE map-side-combined
    * aggregate pass with NO Expand — the exact spelling's Expand
    * multiplies the scanned rows ×2·columns before the shuffle, which
    * is the profiler's cost ceiling at scale (VERDICT r3 flagged it
    * as the one perf-weak plan; this variant is the production
    * spelling, q128 stays as the oracle-exact audit).
    *
    * Sketch estimates are engine-specific, so this query has no
    * DuckDB oracle row (driver records a rows-only check);
    * QueriesSpec pins the ≤5%-per-column relative error against the
    * exact counts and PlanContractSpec pins the Expand-free plan. */
  val q155TableProfileSketch: Q = (s, d) =>
    tableProfile(Tables.lineitem(s, d), approx_count_distinct(_),
      "n_distinct_est")

  // ------------------------------------------------------ CDC apply
  /** Change-data-capture apply: last-writer-wins merge of an
    * insert/update/delete feed onto a snapshot — the batch MERGE INTO
    * every warehouse sync runs. The feed here derives deterministically
    * from `orders` (keys ≡0 mod 3 are inserts missing from the
    * snapshot; ≡0 mod 5 update their price; ≡0 mod 7 are deletes) so
    * both engines construct the identical scenario, including keys
    * that receive an update AND a delete (the delete wins by op_seq).
    *
    * 100 TB design: snapshot and feed union on the key and ONE window
    * (partition = key, order = op_seq desc) picks each key's final
    * row; deletes drop after the pick. No join of snapshot×feed, no
    * per-op passes — one shuffle keyed on the merge key, the same
    * layout Delta/Iceberg MERGE compiles to. Money updates route
    * through decimal(18,2). */
  val q132CdcApply: Q = (s, d) => {
    import s.implicits._
    val o = Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val snap = o.filter($"o_orderkey" % 3 =!= 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast("decimal(18,2)").cast("double")
          .as("price"),
        lit(0L).as("op_seq"), lit("S").as("op"))
    val ins = o.filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast("decimal(18,2)").cast("double")
          .as("price"),
        lit(1L).as("op_seq"), lit("I").as("op"))
    val upd = o.filter($"o_orderkey" % 3 =!= 0 && $"o_orderkey" % 5 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        ($"o_totalprice".cast("decimal(18,2)") + lit(10))
          .cast("decimal(18,2)").cast("double").as("price"),
        lit(2L).as("op_seq"), lit("U").as("op"))
    val del = o.filter($"o_orderkey" % 7 === 0)
      .select($"o_orderkey", lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("price"),
        lit(3L).as("op_seq"), lit("D").as("op"))
    val w = Window.partitionBy($"o_orderkey").orderBy($"op_seq".desc)
    snap.unionByName(ins).unionByName(upd).unionByName(del)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"op" =!= "D")
      .select($"o_orderkey", $"o_orderstatus", $"price",
        $"op".as("last_op"))
  }
  val o132 = """
    WITH o AS (SELECT o_orderkey, o_orderstatus,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS p
               FROM orders),
    feed AS (
      SELECT o_orderkey, o_orderstatus, CAST(p AS DOUBLE) AS price,
             CAST(0 AS BIGINT) AS op_seq, 'S' AS op
      FROM o WHERE o_orderkey % 3 <> 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, CAST(p AS DOUBLE),
             CAST(1 AS BIGINT), 'I'
      FROM o WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(p + 10 AS DECIMAL(18,2)) AS DOUBLE),
             CAST(2 AS BIGINT), 'U'
      FROM o WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, CAST(NULL AS VARCHAR),
             CAST(NULL AS DOUBLE), CAST(3 AS BIGINT), 'D'
      FROM o WHERE o_orderkey % 7 = 0)
    SELECT o_orderkey, o_orderstatus, price, op AS last_op FROM (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey
        ORDER BY op_seq DESC) AS rn
      FROM feed)
    WHERE rn = 1 AND op <> 'D'"""

  // ------------------------------------------------- snapshot diff
  /** Snapshot-diff census: given two VERSIONS of a table (v1, v2 —
    * here derived deterministically from `orders`: v1 drops keys
    * ≡0 mod 11, v2 drops keys ≡0 mod 13 and bumps the price of keys
    * ≡0 mod 7), classify every key as added / removed / changed /
    * unchanged and report counts + the changed-rows price delta per
    * order status. This is the data-versioning regression report a
    * pipeline runs after every re-extraction — q132 APPLIES a change
    * feed; this DERIVES the change set from two materialized states.
    *
    * 100 TB design: NOT a full-outer self-join — both versions union
    * with a tag and ONE aggregate keyed on the merge key classifies
    * each key (map-side combine halves the shuffle for unchanged
    * keys, the dominant class); the tiny census re-aggregate follows.
    * Money deltas route through exact decimal(18,2). */
  /** The deterministic two-version snapshot derivation from `orders`,
    * shared by q169 (row-grain diff) and q180 (column-profile drift):
    * v1 drops keys ≡0 mod 11; v2 drops keys ≡0 mod 13 and bumps the
    * price of keys ≡0 mod 7 by 5. ONE definition (and one SQL CTE
    * prefix below) so the profile-then-rows narrative can't silently
    * diverge between the two reports. */
  private def snapshotVersions(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val o = Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderstatus",
        $"o_totalprice".cast("decimal(18,2)").as("p"))
    val v1 = o.filter($"o_orderkey" % 11 =!= 0)
      .select($"o_orderkey", $"o_orderstatus",
        $"p".cast("double").as("price"))
    val v2 = o.filter($"o_orderkey" % 13 =!= 0)
      .select($"o_orderkey", $"o_orderstatus",
        when($"o_orderkey" % 7 === 0,
          ($"p" + lit(5)).cast("decimal(18,2)").cast("double"))
          .otherwise($"p".cast("double")).as("price"))
    (v1, v2)
  }

  /** DuckDB twin of [[snapshotVersions]] — CTE bodies for `v1`/`v2`
    * (callers prepend `WITH`). */
  private val snapshotVersionsSql: String = """
    o AS (SELECT o_orderkey, o_orderstatus,
            CAST(o_totalprice AS DECIMAL(18,2)) AS p
          FROM orders),
    v1 AS (SELECT o_orderkey, o_orderstatus, CAST(p AS DOUBLE) AS price
           FROM o WHERE o_orderkey % 11 <> 0),
    v2 AS (SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
               THEN CAST(CAST(p + 5 AS DECIMAL(18,2)) AS DOUBLE)
               ELSE CAST(p AS DOUBLE) END AS price
           FROM o WHERE o_orderkey % 13 <> 0)"""

  val q169SnapshotDiff: Q = (s, d) => {
    import s.implicits._
    val (v1, v2) = snapshotVersions(s, d)
    val per = v1.withColumn("v", lit(1))
      .unionByName(v2.withColumn("v", lit(2)))
      .groupBy($"o_orderkey")
      .agg(max(when($"v" === 1, 1L).otherwise(0L)).as("in1"),
        max(when($"v" === 2, 1L).otherwise(0L)).as("in2"),
        max(when($"v" === 1, $"price")).as("p1"),
        max(when($"v" === 2, $"price")).as("p2"),
        max($"o_orderstatus").as("status"))
    per
      .withColumn("diff_class",
        when($"in1" === 0, "added")
          .when($"in2" === 0, "removed")
          .when($"p1" =!= $"p2", "changed")
          .otherwise("unchanged"))
      .groupBy($"status", $"diff_class")
      .agg(count(lit(1)).as("n_keys"),
        sum(when($"diff_class" === "changed",
          $"p2".cast("decimal(18,2)") - $"p1".cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)")))
          .cast("double").as("price_delta"))
  }
  val o169 = s"""
    WITH $snapshotVersionsSql,
    t AS (
      SELECT o_orderkey, o_orderstatus, price, 1 AS v FROM v1
      UNION ALL
      SELECT o_orderkey, o_orderstatus, price, 2 AS v FROM v2),
    per AS (
      SELECT o_orderkey,
        MAX(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS in1,
        MAX(CASE WHEN v = 2 THEN 1 ELSE 0 END) AS in2,
        MAX(CASE WHEN v = 1 THEN price END) AS p1,
        MAX(CASE WHEN v = 2 THEN price END) AS p2,
        MAX(o_orderstatus) AS status
      FROM t GROUP BY 1),
    cls AS (
      SELECT *, CASE WHEN in1 = 0 THEN 'added'
                     WHEN in2 = 0 THEN 'removed'
                     WHEN p1 <> p2 THEN 'changed'
                     ELSE 'unchanged' END AS diff_class
      FROM per)
    SELECT status, diff_class, COUNT(*) AS n_keys,
      CAST(SUM(CASE WHEN diff_class = 'changed'
        THEN CAST(p2 AS DECIMAL(18,2)) - CAST(p1 AS DECIMAL(18,2))
        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS price_delta
    FROM cls GROUP BY 1, 2"""

  // ------------------------------------------------- Benford audit
  /** Benford first-digit audit over order totals: the observed
    * leading-digit distribution against Benford's law — the
    * data-forensics screen for fabricated or truncated monetary data
    * (organic multi-scale amounts follow log₁₀(1+1/d); capped,
    * rounded, or synthesized ones visibly do not). Reports per digit
    * the count, observed share, expected share, and absolute
    * deviation; the mean absolute deviation is what an audit
    * thresholds (MAD > 0.015 ≈ nonconformity in the Nigrini scale).
    *
    * Parity: the expected shares are DECIMAL LITERALS spelled
    * identically in both engines (no log evaluated at query time),
    * and observed shares divide exact integer counts — every double
    * derives from identical inputs via correctly-rounded ops.
    *
    * 100 TB design: first digit is per-row string arithmetic; the
    * census is 9 cells via one map-side-combined aggregate. */
  private val BenfordP: Seq[(Int, String)] = Seq(
    1 -> "0.3010299956639812", 2 -> "0.17609125905568124",
    3 -> "0.12493873660829992", 4 -> "0.09691001300805642",
    5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
    7 -> "0.05799194697768673", 8 -> "0.05115252244738129",
    9 -> "0.04575749056067514")

  val q182BenfordAudit: Q = (s, d) => {
    import s.implicits._
    val expected = BenfordP.map { case (dg, p) =>
      s"WHEN digit = $dg THEN CAST($p AS DOUBLE)"
    }.mkString("CASE ", " ", " END")
    val digits = Tables.orders(s, d)
      // leading digit of the integer part: totals are ≥ 1, so the
      // first character of the integer cast is the first digit.
      // floor() BEFORE the bigint cast: DuckDB's decimal→bigint cast
      // ROUNDS while Spark's truncates — flooring first makes the
      // value integral so both casts are the identity
      .select(substring(floor($"o_totalprice".cast("decimal(18,2)"))
        .cast("bigint").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy($"digit")
      .agg(count(lit(1)).as("n"))
    digits
      .withColumn("total", sum($"n").over(Window.partitionBy()))
      .select($"digit", $"n".cast("long").as("n"),
        ($"n".cast("double") / $"total".cast("double")).as("share"),
        expr(expected).as("benford_p"))
      .withColumn("abs_dev",
        abs($"share" - $"benford_p"))
  }
  val o182: String = {
    val expected = BenfordP.map { case (dg, p) =>
      s"WHEN digit = $dg THEN CAST($p AS DOUBLE)"
    }.mkString("CASE ", " ", " END")
    s"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(floor(CAST(o_totalprice
          AS DECIMAL(18,2))) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER)
        AS digit
      FROM orders),
    census AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM census)
    SELECT digit, CAST(n AS BIGINT) AS n,
      CAST(n AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)
        AS share,
      $expected AS benford_p,
      abs(CAST(n AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)
        - ($expected)) AS abs_dev
    FROM census"""
  }

  // ------------------------------------------------- profile drift
  /** Column-profile drift between two snapshot versions: per column,
    * row/null/distinct counts and numeric min/max on BOTH versions
    * plus a drift flag — the schema-level regression report that runs
    * before q169's row-level diff (a profile delta tells you WHICH
    * column moved; the row diff tells you which keys). Versions are
    * q169's deterministic derivation from `orders`.
    *
    * 100 TB design: each column profiles through a two-level census
    * (groupBy value → aggregate) — map-side combine, NO Expand (the
    * q128 exact profiler's cost ceiling); the per-column frames union
    * at one row per column per version, and the final diff joins two
    * column-grain frames. The oracle spells the same numbers with
    * plain COUNT(DISTINCT) — different plan, same values. */
  val q180ProfileDrift: Q = (s, d) => {
    import s.implicits._
    val (v1, v2) = snapshotVersions(s, d)
    def prof(df: org.apache.spark.sql.DataFrame, cname: String,
             isNum: Boolean, side: String) = {
      val census = df.groupBy(col(cname).as("v"))
        .agg(count(lit(1)).as("cnt"))
      census.agg(
        sum($"cnt").cast("long").as(s"n_rows_$side"),
        sum(when($"v".isNull, $"cnt").otherwise(0L)).cast("long")
          .as(s"n_nulls_$side"),
        count(when($"v".isNotNull, lit(1))).as(s"n_distinct_$side"),
        (if (isNum) min($"v".cast("double"))
         else lit(null).cast("double")).as(s"min_num_$side"),
        (if (isNum) max($"v".cast("double"))
         else lit(null).cast("double")).as(s"max_num_$side"))
        .select(lit(cname).as("column_name"), col("*"))
    }
    val cols = Seq(("o_orderkey", true), ("o_orderstatus", false),
      ("price", true))
    val pa = cols.map { case (c, n) => prof(v1, c, n, "a") }
      .reduce(_ unionByName _)
    val pb = cols.map { case (c, n) => prof(v2, c, n, "b") }
      .reduce(_ unionByName _)
    pa.join(pb, Seq("column_name"))
      .withColumn("drift",
        when($"n_distinct_a" =!= $"n_distinct_b"
          || $"n_nulls_a" =!= $"n_nulls_b"
          || ($"min_num_a".isNotNull
              && $"min_num_a" =!= $"min_num_b")
          || ($"max_num_a".isNotNull
              && $"max_num_a" =!= $"max_num_b"), 1L).otherwise(0L))
      .select($"column_name", $"n_rows_a", $"n_rows_b",
        $"n_nulls_a", $"n_nulls_b", $"n_distinct_a", $"n_distinct_b",
        $"min_num_a", $"min_num_b", $"max_num_a", $"max_num_b",
        $"drift")
  }
  val o180 = s"""
    WITH $snapshotVersionsSql,
    pa AS (
      SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows_a,
        COUNT(*) - COUNT(o_orderkey) AS n_nulls_a,
        COUNT(DISTINCT o_orderkey) AS n_distinct_a,
        CAST(MIN(o_orderkey) AS DOUBLE) AS min_num_a,
        CAST(MAX(o_orderkey) AS DOUBLE) AS max_num_a
      FROM v1
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*),
        COUNT(*) - COUNT(o_orderstatus),
        COUNT(DISTINCT o_orderstatus),
        CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      FROM v1
      UNION ALL
      SELECT 'price', COUNT(*), COUNT(*) - COUNT(price),
        COUNT(DISTINCT price),
        MIN(price), MAX(price)
      FROM v1),
    pb AS (
      SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows_b,
        COUNT(*) - COUNT(o_orderkey) AS n_nulls_b,
        COUNT(DISTINCT o_orderkey) AS n_distinct_b,
        CAST(MIN(o_orderkey) AS DOUBLE) AS min_num_b,
        CAST(MAX(o_orderkey) AS DOUBLE) AS max_num_b
      FROM v2
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*),
        COUNT(*) - COUNT(o_orderstatus),
        COUNT(DISTINCT o_orderstatus),
        CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      FROM v2
      UNION ALL
      SELECT 'price', COUNT(*), COUNT(*) - COUNT(price),
        COUNT(DISTINCT price),
        MIN(price), MAX(price)
      FROM v2)
    SELECT column_name, n_rows_a, n_rows_b, n_nulls_a, n_nulls_b,
      n_distinct_a, n_distinct_b, min_num_a, min_num_b,
      max_num_a, max_num_b,
      CAST(CASE WHEN n_distinct_a <> n_distinct_b
             OR n_nulls_a <> n_nulls_b
             OR (min_num_a IS NOT NULL AND min_num_a <> min_num_b)
             OR (max_num_a IS NOT NULL AND max_num_a <> max_num_b)
           THEN 1 ELSE 0 END AS BIGINT) AS drift
    FROM pa JOIN pb USING (column_name)"""

  // ------------------------------------------------- skew diagnostic
  /** Join-key skew diagnostic over lineitem's orderkey — the "measure
    * before you salt" ops report (q79 is the salting cure; this is the
    * diagnosis): key cardinality, max/mean/p99 rows-per-key and the
    * skew ratio a shuffle planner alerts on.
    *
    * 100 TB design: the per-key census map-side combines; p99 comes
    * from a COUNT-OF-COUNTS census (distinct per-key sizes, a tiny
    * second census) via the q129 rank trick — no sort of the key
    * census, no percentile_approx (not cross-engine reproducible).
    * Output is one row. */
  val q135SkewDiagnostic: Q = (s, d) => {
    import s.implicits._
    val perKey = Tables.lineitem(s, d)
      .groupBy($"l_orderkey").agg(count(lit(1)).as("n"))
    val sizes = perKey.groupBy($"n").agg(count(lit(1)).as("freq"))
    val cum = sizes
      .withColumn("cum", sum($"freq").over(
        Window.orderBy($"n".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum($"freq").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val p99 = cum
      .agg(min(when($"cum" >= ceil(lit(0.99) * $"total"), $"n"))
        .as("p99_rows_per_key"))
    perKey.agg(
        count(lit(1)).as("n_keys"),
        sum($"n").cast("long").as("n_rows"),
        max($"n").as("max_rows_per_key"))
      .crossJoin(p99)
      .withColumn("mean_rows_per_key",
        $"n_rows".cast("double") / $"n_keys".cast("double"))
      .withColumn("skew_ratio",
        $"max_rows_per_key".cast("double")
          / ($"n_rows".cast("double") / $"n_keys".cast("double")))
      .select($"n_keys", $"n_rows", $"max_rows_per_key",
        $"p99_rows_per_key", $"mean_rows_per_key", $"skew_ratio")
  }
  val o135 = """
    WITH per_key AS (
      SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
    sizes AS (SELECT n, COUNT(*) AS freq FROM per_key GROUP BY 1),
    cum AS (
      SELECT n,
        SUM(freq) OVER (ORDER BY n ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(freq) OVER () AS total
      FROM sizes),
    p99 AS (
      SELECT MIN(CASE WHEN cum >= ceil(0.99 * total) THEN n END)
        AS p99_rows_per_key
      FROM cum)
    SELECT COUNT(*) AS n_keys,
      CAST(SUM(n) AS BIGINT) AS n_rows,
      MAX(n) AS max_rows_per_key,
      p99.p99_rows_per_key,
      CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        AS mean_rows_per_key,
      CAST(MAX(n) AS DOUBLE)
        / (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        AS skew_ratio
    FROM per_key, p99
    GROUP BY p99.p99_rows_per_key"""

  // ---------------------------------------------------- FK audit
  /** Referential-integrity audit: orphan counts along the fact-to-dim
    * chain (lineitem→orders→customer→nation) — the first gate of any
    * warehouse load, and the census a migration runs on both sides.
    *
    * 100 TB design: each orphan check is one LEFT ANTI join keyed on
    * the FK (broadcast when the parent is a dim); counts collapse to
    * a 4-row report. */
  val q140FkAudit: Q = (s, d) => {
    import s.implicits._
    // ONE declarative plan (4 left-join aggregate branches, unioned —
    // the oracle's own shape): the previous spelling ran EIGHT eager
    // driver-side count() actions (2 per audit), i.e. two full passes
    // over every audited table and a driver round-trip each, before
    // the query's own plan even executed. Same rows, same values.
    def audit(name: String, child: org.apache.spark.sql.DataFrame,
              childKey: String, parent: org.apache.spark.sql.DataFrame,
              parentKey: String, bcast: Boolean) = {
      val p = parent.select(col(parentKey).as(childKey)).distinct()
        .withColumn("__hit", lit(1))
      child.select(col(childKey))
        .join(if (bcast) broadcast(p) else p, Seq(childKey), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_orphans"))
        .select(lit(name).as("fk"), $"n_rows", $"n_orphans")
    }
    Seq(
      audit("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d).withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey", bcast = false),
      audit("orders->customer", Tables.orders(s, d)
          .withColumnRenamed("o_custkey", "c_custkey"), "c_custkey",
        Tables.customer(s, d), "c_custkey", bcast = false),
      audit("customer->nation", Tables.customer(s, d)
          .withColumnRenamed("c_nationkey", "n_nationkey"), "n_nationkey",
        Tables.nation(s, d), "n_nationkey", bcast = true),
      audit("supplier->nation", Tables.supplier(s, d)
          .withColumnRenamed("s_nationkey", "n_nationkey"), "n_nationkey",
        Tables.nation(s, d), "n_nationkey", bcast = true))
      .reduce(_ unionByName _)
  }
  val o140 = """
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders->customer', COUNT(*),
      CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer->nation', COUNT(*),
      CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
      ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'supplier->nation', COUNT(*),
      CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM supplier s LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
      ON s.s_nationkey = n.n_nationkey"""

  // --------------------------------------------- fulfillment latency
  /** Fulfillment-latency SLA report: per order priority, exact
    * P50/P90/max days from order placement to the LAST line shipment
    * — the ops dashboard number behind every shipping SLA.
    *
    * 100 TB design: order latency is one keyed agg on orderkey (+ a
    * keyed join to orders); quantiles come from the (priority, days)
    * census via the rank trick — the census is priorities ×
    * max-latency bounded, so nothing sorts order-scale rows. */
  val q150FulfillmentLatency: Q = (s, d) => {
    import s.implicits._
    val lat = Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(max($"l_shipdate".cast("date")).as("last_ship"))
      .join(Tables.orders(s, d).select($"o_orderkey".as("l_orderkey"),
        $"o_orderdate".cast("date").as("placed"), $"o_orderpriority"),
        Seq("l_orderkey"))
      .select($"o_orderpriority",
        datediff($"last_ship", $"placed").cast("long").as("days"))
    val census = lat.groupBy($"o_orderpriority", $"days")
      .agg(count(lit(1)).as("freq"))
    val cum = census
      .withColumn("cum", sum($"freq").over(
        Window.partitionBy($"o_orderpriority").orderBy($"days".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum($"freq").over(
        Window.partitionBy($"o_orderpriority")))
    cum.groupBy($"o_orderpriority")
      .agg(max($"total").cast("long").as("n_orders"),
        min(when($"cum" >= ceil(lit(0.5) * $"total"), $"days"))
          .as("p50_days"),
        min(when($"cum" >= ceil(lit(0.9) * $"total"), $"days"))
          .as("p90_days"),
        max($"days").as("max_days"))
  }
  val o150 = """
    WITH lat AS (
      SELECT o.o_orderpriority,
        CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
          MAX(CAST(l.l_shipdate AS DATE))) AS BIGINT) AS days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate),
    census AS (
      SELECT o_orderpriority, days, COUNT(*) AS freq
      FROM lat GROUP BY 1, 2),
    cum AS (
      SELECT o_orderpriority, days,
        SUM(freq) OVER (PARTITION BY o_orderpriority ORDER BY days ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(freq) OVER (PARTITION BY o_orderpriority) AS total
      FROM census)
    SELECT o_orderpriority,
      CAST(MAX(total) AS BIGINT) AS n_orders,
      MIN(CASE WHEN cum >= ceil(0.5 * total) THEN days END) AS p50_days,
      MIN(CASE WHEN cum >= ceil(0.9 * total) THEN days END) AS p90_days,
      MAX(days) AS max_days
    FROM cum GROUP BY o_orderpriority"""

  // ---------------------------------------------------- rank shift
  /** Year-over-year revenue rank shift per nation: 1996 vs 1997
    * revenue ranks with the movement — the "who gained share" BI
    * mart. Ranks come from two year-bounded revenue censuses (one
    * scan, conditional aggregation) ranked over the nations-bounded
    * result; revenue routes through exact decimals.
    *
    * 100 TB design: ONE fact scan feeds both years via conditional
    * sums; windows rank the 25-nation census. */
  val q151RankShift: Q = (s, d) => {
    import s.implicits._
    def rev(y: Int) =
      sum(when(year($"o_orderdate") === y,
        ($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(28,6)"))).cast("double")
    val base = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(coalesce(rev(1996), lit(0.0)).as("rev_1996"),
        coalesce(rev(1997), lit(0.0)).as("rev_1997"))
    val r96 = Window.orderBy($"rev_1996".desc, $"n_name".asc)
    val r97 = Window.orderBy($"rev_1997".desc, $"n_name".asc)
    base
      .withColumn("rank_1996", row_number().over(r96).cast("long"))
      .withColumn("rank_1997", row_number().over(r97).cast("long"))
      .withColumn("rank_delta", $"rank_1996" - $"rank_1997")
  }
  val o151 = """
    WITH base AS (
      SELECT n_name,
        COALESCE(CAST(SUM(CASE WHEN year(o_orderdate) = 1996
          THEN CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS rev_1996,
        COALESCE(CAST(SUM(CASE WHEN year(o_orderdate) = 1997
          THEN CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS rev_1997
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name)
    SELECT n_name, rev_1996, rev_1997,
      CAST(row_number() OVER (ORDER BY rev_1996 DESC, n_name ASC)
        AS BIGINT) AS rank_1996,
      CAST(row_number() OVER (ORDER BY rev_1997 DESC, n_name ASC)
        AS BIGINT) AS rank_1997,
      CAST(row_number() OVER (ORDER BY rev_1996 DESC, n_name ASC)
        AS BIGINT)
        - CAST(row_number() OVER (ORDER BY rev_1997 DESC, n_name ASC)
            AS BIGINT) AS rank_delta
    FROM base"""

  // ---------------------------------------------- mix/rate decomposition
  /** Volume-vs-rate decomposition of the year-over-year revenue change
    * per nation (the "why did revenue move" BI primitive): with
    * n_y = order count and rate_y = revenue per order,
    * Δrev = (n₂ − n₁)·rate₁  (volume effect — more/fewer orders at the
    * old value) + n₂·(rate₂ − rate₁)  (rate effect — the new volume at
    * a changed per-order value). q151 says WHO moved; this says WHY.
    *
    * Float parity: revenues via the q151 decimal(28,6) conditional
    * sums (one double cast at the end), order counts via conditional
    * exact count-distinct; rates are single divides and the effects
    * in-row double arithmetic — no cross-row double sums anywhere.
    *
    * 100 TB design: ONE fact scan feeds both years through
    * conditional aggregation to a 25-nation census; the distinct-order
    * counts shuffle on the same group key as the sums (one exchange).
    * No windows, no second scan. */
  val q218MixRateDecomp: Q = (s, d) => {
    import s.implicits._
    def rev(y: Int) =
      coalesce(sum(when(year($"o_orderdate") === y,
        ($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(28,6)"))).cast("double"), lit(0.0))
    def nOrders(y: Int) =
      countDistinct(when(year($"o_orderdate") === y, $"o_orderkey"))
        .cast("long")
    def rate(revC: Column, nC: Column) =
      when(nC > 0, revC / nC).otherwise(lit(0.0))
    val base = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(nOrders(1996).as("n_orders_1996"),
        nOrders(1997).as("n_orders_1997"),
        rev(1996).as("rev_1996"), rev(1997).as("rev_1997"))
      .withColumn("rate_1996", rate($"rev_1996", $"n_orders_1996"))
      .withColumn("rate_1997", rate($"rev_1997", $"n_orders_1997"))
    base.select($"n_name", $"n_orders_1996", $"n_orders_1997",
      $"rev_1996", $"rev_1997", $"rate_1996", $"rate_1997",
      (($"n_orders_1997" - $"n_orders_1996") * $"rate_1996")
        .as("volume_effect"),
      ($"n_orders_1997" * ($"rate_1997" - $"rate_1996"))
        .as("rate_effect"),
      ($"rev_1997" - $"rev_1996").as("delta_rev"))
  }
  val o218: String = """
    WITH base AS (
      SELECT n_name,
        CAST(COUNT(DISTINCT CASE WHEN year(o_orderdate) = 1996
          THEN o_orderkey END) AS BIGINT) AS n_orders_1996,
        CAST(COUNT(DISTINCT CASE WHEN year(o_orderdate) = 1997
          THEN o_orderkey END) AS BIGINT) AS n_orders_1997,
        COALESCE(CAST(SUM(CASE WHEN year(o_orderdate) = 1996
          THEN CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS rev_1996,
        COALESCE(CAST(SUM(CASE WHEN year(o_orderdate) = 1997
          THEN CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS rev_1997
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name),
    rates AS (
      SELECT *,
        CASE WHEN n_orders_1996 > 0 THEN rev_1996 / n_orders_1996
             ELSE CAST(0 AS DOUBLE) END AS rate_1996,
        CASE WHEN n_orders_1997 > 0 THEN rev_1997 / n_orders_1997
             ELSE CAST(0 AS DOUBLE) END AS rate_1997
      FROM base)
    SELECT n_name, n_orders_1996, n_orders_1997, rev_1996, rev_1997,
      rate_1996, rate_1997,
      (n_orders_1997 - n_orders_1996) * rate_1996 AS volume_effect,
      n_orders_1997 * (rate_1997 - rate_1996) AS rate_effect,
      rev_1997 - rev_1996 AS delta_rev
    FROM rates"""

  // ------------------------------------------------ hierarchical share
  /** Hierarchical share mart: each nation's revenue as a share of its
    * region and of the world — the ratio-to-parent spelling every BI
    * drill-down needs at two levels at once. Revenue stays exact int64
    * cents until the two final divisions.
    *
    * 100 TB design: one fact-scan aggregate to the nations census;
    * the share windows ride the 25-row census (region-partitioned and
    * global), never fact rows. */
  val q152HierShare: Q = (s, d) => {
    import s.implicits._
    val base = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      // (28,6) then ×1e6: the discounted-price double rounds to 6
      // digits unambiguously (its true value has ≤4 decimal digits —
      // scale 2 hits half-way ties where the engines' rounding modes
      // differ), and ×1e6 leaves an integral decimal whose long cast
      // is exact on both engines
      .agg((sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast("decimal(28,6)")) * 1000000).cast("long").as("micros"))
    base
      .withColumn("region_micros",
        sum($"micros").over(Window.partitionBy($"r_name")).cast("long"))
      .withColumn("world_micros",
        sum($"micros").over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))
          .cast("long"))
      .withColumn("share_of_region",
        $"micros".cast("double") / $"region_micros".cast("double"))
      .withColumn("share_of_world",
        $"micros".cast("double") / $"world_micros".cast("double"))
  }
  val o152 = """
    WITH base AS (
      SELECT r_name, n_name,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
          AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS micros
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2)
    SELECT r_name, n_name, micros,
      CAST(SUM(micros) OVER (PARTITION BY r_name) AS BIGINT)
        AS region_micros,
      CAST(SUM(micros) OVER () AS BIGINT) AS world_micros,
      CAST(micros AS DOUBLE)
        / CAST(SUM(micros) OVER (PARTITION BY r_name) AS DOUBLE)
        AS share_of_region,
      CAST(micros AS DOUBLE) / CAST(SUM(micros) OVER () AS DOUBLE)
        AS share_of_world
    FROM base"""

  // --------------------------------------------------- Pareto deciles
  /** Value-monotonic BOUNDED histogram key for nonnegative int64:
    * (decimal-digit count)·1000 + first-3-digits. Monotonic in the
    * value (more digits ⇒ strictly larger; equal-length prefixes
    * compare numerically), and at most 19·1000+999 ≈ 18k distinct
    * buckets regardless of data size — the level-1 key that lets a
    * global rank over an unbounded census ride the q125 two-level
    * prefix-sum layout (tiny bucket-histogram cumsum for offsets +
    * per-bucket partitioned windows) instead of a single-partition
    * sort. Callers guarantee v ≥ 0 (a sign digit would break the
    * length ordering). */
  private[graft] def valueBucket(v: Column): Column = {
    val str = v.cast("string")
    (length(str) * 1000 + substring(str, 1, 3).cast("long"))
      .cast("long")
  }

  /** THE two-level exact-rank layout — the one spelling behind every
    * census-scale rank in the registry (q153/q161 global, q250
    * per-language, q261 by token length), so the offset arithmetic
    * and tie discipline live in one place: [[valueBucket]] maps the
    * (NONNEGATIVE) long `valueCol` to a value-monotonic histogram key
    * (≤ ~18k buckets per partition), the BOUNDED bucket census
    * cumsum yields each bucket's rank offset plus the partition row
    * count, and per-(partition, bucket) windows refine — no window
    * ever partitions corpus/census-scale rows. Ties break on
    * `tieCol` so both engines bin identically. Appends `rankCol`
    * (1-based in `asc` direction) and `nCol` (partition row count);
    * oracles stay the naive row_number spellings, pinning the
    * refinement row-identical. */
  private[graft] def twoLevelRank(df: DataFrame, valueCol: String,
      tieCol: String, asc: Boolean, partCols: Seq[String] = Seq.empty,
      rankCol: String = "rank", nCol: String = "__n"): DataFrame = {
    val part = partCols.map(col)
    val bucketed = df.withColumn("__tlr_bucket", valueBucket(col(valueCol)))
    val bOrd = if (asc) col("__tlr_bucket").asc else col("__tlr_bucket").desc
    val offsets = bucketed
      .groupBy(part :+ col("__tlr_bucket"): _*)
      .agg(count(lit(1)).as("__tlr_bn"))
      .withColumn("__tlr_off",
        (sum(col("__tlr_bn")).over(Window.partitionBy(part: _*)
          .orderBy(bOrd)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("__tlr_bn")).cast("long"))
      .withColumn(nCol, sum(col("__tlr_bn"))
        .over(Window.partitionBy(part: _*)
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).cast("long"))
      .select(part :+ col("__tlr_bucket") :+ col("__tlr_off")
        :+ col(nCol): _*)
    val vOrd =
      if (asc) Seq(col(valueCol).asc, col(tieCol).asc)
      else Seq(col(valueCol).desc, col(tieCol).asc)
    val wb = Window.partitionBy(part :+ col("__tlr_bucket"): _*)
      .orderBy(vOrd: _*)
    bucketed
      .join(broadcast(offsets), partCols :+ "__tlr_bucket")
      .withColumn(rankCol,
        (col("__tlr_off") + row_number().over(wb)).cast("long"))
      .drop("__tlr_bucket", "__tlr_off")
  }

  /** Customer-revenue Pareto deciles: customers ranked by exact-cents
    * revenue, split into 10 equal-count bins, each bin's share of
    * total revenue — the 80/20 concentration report.
    *
    * 100 TB design: the fact table collapses to the customer census
    * first; the global rank then rides the q125 two-level prefix-sum
    * layout — [[valueBucket]] maps cents to a BOUNDED (≤ ~18k
    * buckets) value-monotonic histogram key, the tiny descending
    * bucket cumsum yields each bucket's rank offset (plus the global
    * count), and per-customer ranks come from per-BUCKET windows
    * shifted by the broadcast offsets. No unpartitioned window ever
    * touches the customer census. Ties break on custkey so both
    * engines bin identically. */
  val q153ParetoDeciles: Q = (s, d) => {
    import s.implicits._
    val custRev = Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg((sum($"o_totalprice".cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    val ranked = twoLevelRank(custRev, "cents", "o_custkey",
        asc = false, rankCol = "rn", nCol = "n")
      .withColumn("decile", expr("((rn - 1) * 10) div n"))
    ranked.groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"),
        sum($"cents").cast("long").as("cents"))
      .withColumn("total", sum($"cents").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).cast("long"))
      .withColumn("revenue_share",
        $"cents".cast("double") / $"total".cast("double"))
      .select($"decile", $"n_customers", $"cents", $"revenue_share")
  }
  val o153 = """
    WITH cust AS (
      SELECT o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
          AS cents
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT cents,
        ((row_number() OVER (ORDER BY cents DESC, o_custkey ASC) - 1)
          * 10) // COUNT(*) OVER () AS decile
      FROM cust),
    census AS (
      SELECT decile, COUNT(*) AS n_customers,
        CAST(SUM(cents) AS BIGINT) AS cents
      FROM ranked GROUP BY decile)
    SELECT decile, n_customers, cents,
      CAST(cents AS DOUBLE)
        / CAST(SUM(cents) OVER () AS DOUBLE) AS revenue_share
    FROM census"""

  // ------------------------------------------------- Gini coefficient
  /** Customer-revenue Gini coefficient — the scalar twin of q153's
    * decile table: G = (2·Σi·yᵢ − (n+1)·Σy) / (n·Σy) over revenues
    * ranked ascending (ties broken on custkey so both engines rank
    * identically). 0 = perfectly even, →1 = winner-takes-all; the
    * one number a concentration dashboard tracks over time.
    *
    * Float parity: ranks and cents are exact integers; the two
    * moment sums accumulate as decimal(38,0), cast to double once,
    * and G is one identical IEEE expression. 100 TB design: the fact
    * collapses to the customer census first; the ascending global
    * rank rides q153's two-level layout ([[valueBucket]] histogram
    * offsets + per-bucket windows) — no unpartitioned window over
    * the census. */
  val q161GiniRevenue: Q = (s, d) => {
    import s.implicits._
    val custRev = Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg((sum($"o_totalprice".cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    twoLevelRank(custRev, "cents", "o_custkey", asc = true,
      rankCol = "i")
      // the cast rides an OPERAND so the rank×cents product is decimal
      // from the start — i ~ 4e9 × cents ~ 1e10 overflows an int64
      // product silently in Spark and throws in DuckDB (the q220
      // pairSum convention)
      .agg(count(lit(1)).cast("double").as("n"),
        sum($"cents".cast("decimal(38,0)")).cast("double").as("sy"),
        sum($"i".cast("decimal(38,0)") * $"cents").cast("double")
          .as("siy"))
      .select($"n".cast("long").as("n_customers"),
        $"sy".cast("long").as("total_cents"),
        ((lit(2.0) * $"siy" - ($"n" + 1.0) * $"sy")
          / ($"n" * $"sy")).as("gini"))
  }
  val o161 = """
    WITH cust AS (
      SELECT o_custkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
          AS cents
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT cents,
        CAST(row_number() OVER (ORDER BY cents ASC, o_custkey ASC)
          AS BIGINT) AS i
      FROM cust),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(i AS HUGEINT) * cents) AS DOUBLE) AS siy
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
      CAST(sy AS BIGINT) AS total_cents,
      (2.0 * siy - (n + 1.0) * sy) / (n * sy) AS gini
    FROM m"""

  val queries: Map[String, Q] = Map(
    "q152_hier_share" -> q152HierShare,
    "q153_pareto_deciles" -> q153ParetoDeciles,
    "q161_gini_revenue" -> q161GiniRevenue,
    "q150_fulfillment_latency" -> q150FulfillmentLatency,
    "q151_rank_shift" -> q151RankShift,
    "q218_mix_rate_decomp" -> q218MixRateDecomp,
    "q140_fk_audit" -> q140FkAudit,
    "q135_skew_diagnostic" -> q135SkewDiagnostic,
    "q132_cdc_apply" -> q132CdcApply,
    "q169_snapshot_diff" -> q169SnapshotDiff,
    "q180_profile_drift" -> q180ProfileDrift,
    "q182_benford_audit" -> q182BenfordAudit,
    "q128_table_profile" -> q128TableProfile,
    "q155_table_profile_sketch" -> q155TableProfileSketch,
    "q127_star_join" -> q127StarJoin,
    "q01_agg_pricing" -> q01AggPricing,
    "q02_filter_project" -> q02FilterProject,
    "q03_join_agg" -> q03JoinAgg,
    "q04_count_distinct" -> q04CountDistinct,
    "q05_cond_count_distinct" -> q05CondCountDistinct,
    "q06_left_flag" -> q06LeftFlag,
    "q07_pivot_fixed" -> q07PivotFixed,
    "q08_unpivot" -> q08Unpivot,
    "q09_rollup" -> q09Rollup,
    "q10_window_topn" -> q10WindowTopN,
    "q12_range_join" -> q12RangeJoin,
    "q13_union" -> q13Union,
    "q14_monthly" -> q14Monthly,
    "q15_sample_det" -> q15SampleDet,
    "q16_topk" -> q16TopK,
    "q17_grain_check" -> q17GrainCheck,
    "q18_qa_summary" -> q18QaSummary,
    "q19_profile" -> q19Profile)

  val oracles: Map[String, String] = Map(
    "q152_hier_share" -> o152,
    "q153_pareto_deciles" -> o153,
    "q161_gini_revenue" -> o161,
    "q150_fulfillment_latency" -> o150,
    "q151_rank_shift" -> o151,
    "q218_mix_rate_decomp" -> o218,
    "q140_fk_audit" -> o140,
    "q135_skew_diagnostic" -> o135,
    "q132_cdc_apply" -> o132,
    "q169_snapshot_diff" -> o169,
    "q180_profile_drift" -> o180,
    "q182_benford_audit" -> o182,
    "q128_table_profile" -> o128,
    "q127_star_join" -> o127,
    "q01_agg_pricing" -> o01,
    "q02_filter_project" -> o02,
    "q03_join_agg" -> o03,
    "q04_count_distinct" -> o04,
    "q05_cond_count_distinct" -> o05,
    "q06_left_flag" -> o06,
    "q07_pivot_fixed" -> o07,
    "q08_unpivot" -> o08,
    "q09_rollup" -> o09,
    "q10_window_topn" -> o10,
    "q12_range_join" -> o12,
    "q13_union" -> o13,
    "q14_monthly" -> o14,
    "q15_sample_det" -> o15,
    "q16_topk" -> o16,
    "q17_grain_check" -> o17,
    "q18_qa_summary" -> o18,
    "q19_profile" -> o19)
}
