package graft

import java.nio.file.Files

import graft.functions.{Cleaning, GraftExtensions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Kernel registration, null behaviour and codegen. */
class ExtensionsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

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

  /** One argument list per kernel, over the columns of the probe file
    * written below. */
  private val args = Map(
    "strip_accents_native" -> "s", "parse_money_native" -> "s",
    "simhash64_native" -> "h", "fingerprint64_native" -> "s",
    "shingles3_native" -> "s", "shinglesk_native" -> "s, 4",
    "minhash4_native" -> "h", "winnow4_native" -> "h",
    "dot_f32_native" -> "f, d", "l2sq_native" -> "f, d",
    "bpe_merge" -> "syms, 'a', 'b'")

  // each kernel: resolves from SQL under its name, gives null for a
  // null first argument, and runs inside whole-stage codegen over a
  // parquet scan
  test("every kernel resolves, propagates null and codegens") {
    val s = spark
    import s.implicits._
    assert(args.keySet == GraftExtensions.kernels.map(_.name).toSet)
    val dir = Files.createTempDirectory("kernels").toString + "/probe"
    Seq((1L, Some("Café 1.234,56 a b"), Some(Seq(7L, 40L, 9L, 3L, 12L)),
        Some(Seq(1f, 2f)), Some(Seq(0.5, 4.0)), Some(Seq("a", "b", "c"))),
      (2L, None, None, None, None, None))
      .toDF("id", "s", "h", "f", "d", "syms").coalesce(1)
      .write.parquet(dir)
    // a snippet that fails to compile throws instead of falling back
    // to interpreted projection
    TestSession.withConf("spark.sql.codegen.fallback" -> "false") {
      GraftExtensions.kernels.foreach { k =>
        val df = spark.read.parquet(dir)
          .selectExpr("id", s"${k.name}(${args(k.name)})")
        assert(df.columns(1).startsWith(s"${k.name}("), df.columns)
        val out = df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
        assert(out(1L) != null, k.name)
        assert(out(2L) == null, k.name) // null first argument → null
        val codegened = collect(df.queryExecution.executedPlan) {
          case w: WholeStageCodegenExec => w
        }.exists(_.child.exists {
          case p: ProjectExec => p.projectList.exists(_.exists {
            case i: StaticInvoke =>
              i.staticObject.getName.startsWith("graft.functions.")
            case _ => false
          })
          case _ => false
        })
        assert(codegened, df.queryExecution.executedPlan)
      }
    }
  }

  test("parse_money/strip_accents_native match the Scala functions") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val cases = Seq("1,234.56", "1.234,56", "(1,234.56)", "$ 1 234,56",
      "1.234", "1,234", "1.234.567", "12,34", "-42", "abc", "",
      "Café Überraschung añejo", "Miércoles", null)
    // a local relation: the optimizer evaluates the kernels interpreted
    val df = cases.toDF("raw").select($"raw",
      expr("parse_money_native(raw)"), expr("strip_accents_native(raw)"))
    df.collect().foreach { r =>
      val raw = r.getString(0)
      val n = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      assert(n == Cleaning.parseMoneyFn(raw), s"raw=$raw")
      assert(r.getString(2) == Cleaning.stripAccentsFn(raw), s"raw=$raw")
    }
  }
}
