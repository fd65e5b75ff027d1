package graft

import graft.functions.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Native expression registration + codegen behavior. */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  test("simhash64_native matches the 64-fold composed spelling") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // bit 63's term is min-int64 (the raw literal doesn't parse);
    // terms have disjoint bits so bitwise OR assembles the signature
    // without overflow regardless of evaluation order
    val composed = (0 until 64).map { b =>
      val value =
        if (b == 63) "(CAST(-9223372036854775807 AS BIGINT) - 1)"
        else s"CAST(${1L << b} AS BIGINT)"
      s"""(CASE WHEN aggregate(h, CAST(0 AS BIGINT),
            (acc, x) -> acc + (2 * (shiftright(x, $b) & 1) - 1)) > 0
          THEN $value ELSE CAST(0 AS BIGINT) END)"""
    }.mkString(" | ")
    val df = Seq(
      Seq(7L, 2654435761L, 40L, 1L << 31),
      Seq(-1L, Long.MinValue, (0xABCDL << 48) | 17L),
      Seq(0L),
      Seq.empty[Long]
    ).toDF("h")
      .select(expr("simhash64_native(h)").as("native"),
        expr(composed).as("composed"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native ${r.getLong(0)} vs composed ${r.getLong(1)}"))
    // empty array → no votes → 0
    assert(df.collect().last.getLong(0) == 0L)
  }

  test("strip_accents_native resolves, matches UDF semantics, codegens") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("Café Überraschung añejo", "Miércoles", null)
      .toDF("t")
      .select($"t", expr("strip_accents_native(t)").as("n"),
        graft.functions.Cleaning.stripAccents($"t").as("u"))
    val rows = df.collect()
    assert(rows(0).getString(1) == "Cafe Uberraschung anejo")
    assert(rows(1).getString(1) == "Miercoles")
    assert(rows(2).isNullAt(1)) // null-intolerant → null in, null out
    rows.filter(!_.isNullAt(1)).foreach(r =>
      assert(r.getString(1) == r.getString(2))) // expression == UDF
    // on a real source the projection stays inside whole-stage codegen
    // (the local-relation case above folds to a LocalTableScan)
    val scanDf = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(expr("strip_accents_native(text)").as("n"))
    assert(scanDf.collect().forall(_.getString(0).nonEmpty))
    // AQE finalizes the plan only after execution; "*(n)" marks a
    // whole-stage-codegen stage containing the projection (the region
    // NUMBER is not pinned — it shifted when Tables.t's scan fan-out
    // became size-adaptive and the sf0.001 repartition disappeared)
    assert("""\*\(\d+\) Project \[strip_accents\(text""".r
      .findFirstIn(scanDf.queryExecution.executedPlan.toString)
      .isDefined)
  }

  test("parse_money_native matches the UDF on the truth table + nulls") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val cases = Seq("1,234.56", "1.234,56", "(1,234.56)", "$ 1 234,56",
      "1.234", "1,234", "1.234.567", "12,34", "-42", "abc", "", null)
    val df = cases.toDF("raw")
      .select($"raw", expr("parse_money_native(raw)").as("n"),
        graft.functions.Cleaning.parseMoney($"raw").as("u"))
    df.collect().foreach { r =>
      val n = if (r.isNullAt(1)) null else r.getDouble(1)
      val u = if (r.isNullAt(2)) null else r.getDouble(2)
      assert(n == u, s"raw=${r.getString(0)}: native=$n udf=$u")
    }
  }
}
