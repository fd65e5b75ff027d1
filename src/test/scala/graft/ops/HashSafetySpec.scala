package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The mod-prime-BEFORE-multiply spelling in q15/q81/q86 exists
  * because `key * 2654435761` overflows Int64 for keys ≥ ~3.47e9 — an
  * ANSI-mode runtime error at exactly the id range a 100 TB corpus
  * reaches. This pins the safe spelling against such keys. */
class HashSafetySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("sampling hashes survive 100TB-scale ids under ANSI mode") {
    val s = spark
    import s.implicits._
    graft.TestSession.withConf("spark.sql.ansi.enabled" -> "true") {
      val ids = Seq(1L, 3_470_000_000L, 4_000_000_000L,
        Long.MaxValue / 2654435761L + 7L, 9_007_199_254_740_993L)
        .toDF("key")
      // q81's two-round seeded mix
      val h1 = (pmod($"key", lit(1000000007L)) * lit(2654435761L) +
        lit(42L * 40503L)) % lit(1000000007L)
      val h2 = (h1 * lit(2654435761L)) % lit(1000000007L)
      // q15's single round and q86's pmod spelling
      val h15 = (pmod($"key", lit(1000000007L)) * lit(2654435761L)) % 100
      val h86 = pmod(pmod($"key", lit(1000000007L)) * lit(2654435761L),
        lit(100))
      val out = ids.select(h2.as("a"), h15.as("b"), h86.as("c")).collect()
      assert(out.length == 5) // no ArithmeticException under ANSI
      // and the naive spelling really does overflow — the fix is load-bearing
      val ex = intercept[Exception] {
        ids.select(($"key" * lit(2654435761L)).as("boom")).collect()
      }
      assert(ex.getMessage.contains("overflow") ||
        ex.getCause != null, ex.getMessage)
    }
  }

  test("drift cross-products stay exact past the int64 product bound") {
    val s = spark
    import s.implicits._
    // counts a 100 TB corpus actually reaches: cumulative ~4e9 rows
    // against an ~8e9 total makes the cross-product ~3.2e19 — past
    // Long.MaxValue (9.2e18), where the pre-round-7 int64 spelling
    // silently wrapped (or threw under ANSI). crossDevAbs routes
    // through decimal(38,0); pin it against BigInt ground truth.
    val rows = Seq(
      (4_000_000_000L, 8_000_000_000L, 3_999_999_999L, 8_000_000_001L),
      (8_999_999_999L, 9_000_000_001L, 1L, 2L),
      (7L, 11L, 13L, 5L))
    val got = rows.toDF("cum_s", "n_g", "cum_g", "n_s")
      .select(CorpusOps.crossDevAbs($"cum_s", $"n_g", $"cum_g", $"n_s")
        .cast("string"))
      .as[String].collect().toSeq
    val want = rows.map { case (a, b, c, d) =>
      (BigInt(a) * BigInt(b) - BigInt(c) * BigInt(d)).abs.toString }
    assert(got == want)
  }

  test("pair-count algebra survives a multi-billion-member cell") {
    val s = spark
    import s.implicits._
    // q220's C(m,2) sums: a 3.9e9-member cell makes m·(m−1) ≈ 1.5e19
    // — past int64, where the old long product wrapped — while the
    // halved pair COUNT (7.6e18) still fits the reported long. The
    // decimal(38,0) route + integer `div 2` must land exactly.
    val m = 3_900_000_000L
    val got = Seq(m, 3L).toDF("m")
      .agg(coalesce(sum($"m".cast("decimal(38,0)") * ($"m" - 1)),
        lit(0).cast("decimal(38,0)")).as("p"))
      .select(expr("p div 2").cast("long"))
      .as[Long].head()
    val want = ((BigInt(m) * (m - 1) + BigInt(3) * 2) / 2).toLong
    assert(got == want)
  }
}
