package graft.ops

import graft.Tables
import graft.functions.Cleaning._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function operators (SURVEY §2.3) exercised end-to-end over the
  * testdata: each query feeds synthesized raw strings through the
  * cleaning library and the oracle states the expected ground truth.
  */
object ScalarParity {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- F3
  /** parseMoney over data-scale strings: 4 format variants keyed by
    * row; expected value derives from the original double.
    * (cleaning_utils.py:111-197 semantics.) */
  val q20ParseMoneyCol: Q = (s, d) => {
    import s.implicits._
    val v = pmod($"l_orderkey" + $"l_linenumber", lit(4))
    val ds = $"l_extendedprice".cast("decimal(18,2)").cast("string")
    val raw = when(v === 0, ds)                               // US plain
      .when(v === 1, regexp_replace(ds, "\\.", ","))          // EU comma
      .when(v === 2, concat(lit("$ "), ds))                   // currency
      .otherwise(concat(lit("("), ds, lit(")")))              // paren neg
    // per-row money parse dominates scan cost → spread across cores
    Tables.lineitem(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select($"l_orderkey", $"l_linenumber",
        parseMoney(raw).as("parsed"))
  }
  val o20 = """
    SELECT l_orderkey, l_linenumber,
      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
        * (CASE WHEN (l_orderkey + l_linenumber) % 4 = 3 THEN -1 ELSE 1 END)
        AS parsed
    FROM lineitem"""

  // ---------------------------------------------------------------- F3
  /** parseMoney truth table — the reference docstring's own examples
    * plus the disambiguation corner cases (cleaning_utils.py:128-143,
    * 159-197). Expected values are literals in the oracle. */
  private val moneyCases: Seq[(Int, String, java.lang.Double)] = Seq(
    (1, "1,234.56", 1234.56), (2, "1.234,56", 1234.56),
    (3, "(1,234.56)", -1234.56), (4, "$ 1 234,56", 1234.56),
    (5, "1.234", 1.234), (6, "1,234", 1234.0),
    (7, "1.234.567", 1234567.0), (8, "1,234,567", 1234567.0),
    (9, "12.34", 12.34), (10, "12,34", 12.34),
    (11, "-42", -42.0), (12, "abc", null),
    (13, "", null), (14, "  7  ", 7.0),
    (15, "$1234.5", 1234.5), (16, "(12,3)", -12.3))
  val q21ParseMoneyTable: Q = (s, _) => {
    import s.implicits._
    moneyCases.map { case (i, raw, _) => (i, raw) }
      .toDF("id", "raw")
      .select($"id", parseMoney($"raw").as("parsed"))
  }
  val o21: String = "SELECT id, CAST(parsed AS DOUBLE) AS parsed FROM (VALUES " +
    moneyCases.map { case (i, _, exp) =>
      s"($i, ${if (exp == null) "NULL" else exp.toString})"
    }.mkString(", ") + ") t(id, parsed)"

  // ---------------------------------------------------------------- F5
  /** Multi-format date parsing with the reference's day-first precedence
    * (cleaning_utils.py:225-258): an MM/dd string whose day-part is ≤ 12
    * deliberately parses day-first — the oracle encodes that. */
  val q22DatesMulti: Q = (s, d) => {
    import s.implicits._
    val od = $"o_orderdate".cast("date")
    val v = pmod($"o_orderkey", lit(4))
    val raw = when(v === 0, date_format(od, "yyyy-MM-dd"))
      .when(v === 1, date_format(od, "dd/MM/yyyy"))
      .when(v === 2, date_format(od, "MM/dd/yyyy"))
      .otherwise(date_format(od, "dd-MM-yyyy"))
    Tables.orders(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select($"o_orderkey",
        date_format(parseDateMulti(raw), "yyyy-MM-dd").as("parsed"))
  }
  val o22 = """
    SELECT o_orderkey,
      strftime(CASE WHEN o_orderkey % 4 = 2 AND day(od) <= 12
           THEN make_date(year(od), day(od), month(od))
           ELSE od END, '%Y-%m-%d') AS parsed
    FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders)"""

  // ---------------------------------------------------------------- F10
  /** Ordered substring-rule bucketing (payment-method bucketer shape,
    * payments_daily.py:157-194): first match wins, overlapping tokens. */
  val q23BucketChain: Q = (s, d) => {
    import s.implicits._
    val bucket = bucketBySubstring(lower($"event_type"), Seq(
      "sign" -> "growth",
      "err" -> "ops",
      "u" -> "funnel", // overlaps with 'signup'/'purchase': order matters
      "click" -> "engagement",
      "view" -> "engagement"), "otros")
    Tables.events(s, d)
      .withColumn("bucket", bucket)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), decSum($"value", 2).as("sum_value"))
  }
  val o23 = """
    SELECT CASE
        WHEN lower(event_type) LIKE '%sign%' THEN 'growth'
        WHEN lower(event_type) LIKE '%err%' THEN 'ops'
        WHEN lower(event_type) LIKE '%u%' THEN 'funnel'
        WHEN lower(event_type) LIKE '%click%' THEN 'engagement'
        WHEN lower(event_type) LIKE '%view%' THEN 'engagement'
        ELSE 'otros' END AS bucket,
      COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1"""

  // ---------------------------------------------------------------- F12
  /** Category consolidation via broadcast map join with default
    * (RAW_MAP → Grupo_Nuevo, sales_by_group.py:112-162). */
  val q24CategoryMap: Q = (s, d) => {
    import s.implicits._
    val mapping = s.createDataFrame(Seq(
      ("Brand#1", "PREMIUM"), ("Brand#2", "PREMIUM"),
      ("Brand#13", "VALUE"), ("Brand#20", "VALUE"),
      ("Brand#23", "CLASSIC")
    )).toDF("brand", "category")
    Tables.part(s, d)
      .join(broadcast(mapping), $"p_brand" === $"brand", "left")
      .withColumn("category", coalesce($"category", lit("EXTRAS y MISC")))
      .groupBy($"category")
      .agg(count(lit(1)).as("n_parts"),
        moneySum($"p_retailprice").as("sum_retail"))
  }
  val o24 = """
    SELECT COALESCE(m.category, 'EXTRAS y MISC') AS category,
      COUNT(*) AS n_parts,
      CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_retail
    FROM part
    LEFT JOIN (VALUES ('Brand#1','PREMIUM'), ('Brand#2','PREMIUM'),
                      ('Brand#13','VALUE'), ('Brand#20','VALUE'),
                      ('Brand#23','CLASSIC')) m(brand, category)
      ON p_brand = m.brand
    GROUP BY 1"""

  // ---------------------------------------------------------------- F14
  /** Boolean coercion from Spanish/loose string forms
    * (sales_cleaner.py:406-421). */
  val q25BoolCoerce: Q = (s, d) => {
    import s.implicits._
    val v = pmod($"o_orderkey", lit(7))
    val raw = when(v === 0, lit("Si")).when(v === 1, lit(" sí "))
      .when(v === 2, lit("YES")).when(v === 3, lit("true"))
      .when(v === 4, lit("1")).when(v === 5, lit("No"))
      .otherwise(lit("maybe"))
    Tables.orders(s, d)
      .withColumn("val", boolCoerce(raw))
      .groupBy($"val")
      .agg(count(lit(1)).as("n"))
  }
  val o25 = """
    SELECT CASE
        WHEN o_orderkey % 7 IN (0,1,2,3,4) THEN TRUE
        WHEN o_orderkey % 7 = 5 THEN FALSE
        ELSE NULL END AS val,
      COUNT(*) AS n
    FROM orders GROUP BY 1"""

  // ------------------------------------------------------------ F1/F2/F6
  /** Invisible-char cleanup + accent strip + formula-injection guard
    * (cleaning_utils.py:41-108, 261-313) over data-scale strings. */
  val q26CleanStrings: Q = (s, d) => {
    import s.implicits._
    val noisy = concat(lit("\t Café "), $"c_name", lit("  \u200B"))
    Tables.customer(s, d)
      .select($"c_custkey",
        stripAccents(stripInvisibles(noisy)).as("cleaned"),
        neutralize(concat(lit("="), $"c_name")).as("neutralized"))
  }
  val o26 = """
    SELECT c_custkey,
      'Cafe ' || c_name AS cleaned,
      '''=' || c_name AS neutralized
    FROM customer"""

  val queries: Map[String, Q] = Map(
    "q20_parse_money_col" -> q20ParseMoneyCol,
    "q21_parse_money_table" -> q21ParseMoneyTable,
    "q22_dates_multi" -> q22DatesMulti,
    "q23_bucket_chain" -> q23BucketChain,
    "q24_category_map" -> q24CategoryMap,
    "q25_bool_coerce" -> q25BoolCoerce,
    "q26_clean_strings" -> q26CleanStrings)

  val oracles: Map[String, String] = Map(
    "q20_parse_money_col" -> o20,
    "q21_parse_money_table" -> o21,
    "q22_dates_multi" -> o22,
    "q23_bucket_chain" -> o23,
    "q24_category_map" -> o24,
    "q25_bool_coerce" -> o25,
    "q26_clean_strings" -> o26)
}
