package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hand-math witness for the q270 epoch-allocation math, on censuses
  * this testdata never produces (round-8 verdict item 5): the corpus's
  * near-uniform source mixture keeps every source near 3 epochs, so
  * the >4-epoch `over_cap` branch was oracle-checked but UNEXERCISED.
  * A skewed fixture (one source upweighted far past its unique mass)
  * fires it; a boundary fixture pins the strict `>`; a zero-mass
  * source pins the NULL-epochs convention.
  */
class EpochFixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def alloc(rows: Seq[(String, Long, Double)])
      : Map[String, org.apache.spark.sql.Row] = {
    val s = spark
    import s.implicits._
    CorpusOps.epochAllocFrom(rows.toDF("source", "t_eff", "share_eff"))
      .collect().map(r => r.getAs[String]("source") -> r).toMap
  }

  test("a source upweighted past its unique mass fires over_cap") {
    // hot holds 90% of the sampled share but 10% of the unique tokens:
    // tot_eff = 10000, budget = 30000, alloc = floor(30000*0.9) =
    // 27000 -> 27 epochs of 1000 unique tokens -> over the 4-epoch knee
    val got = alloc(Seq(("hot", 1000L, 0.9), ("cold", 9000L, 0.1)))
    val hot = got("hot")
    assert(hot.getAs[Long]("budget") == 30000L)
    assert(hot.getAs[Long]("alloc_tokens") == 27000L)
    assert(hot.getAs[Double]("epochs") == 27.0)
    assert(hot.getAs[Boolean]("over_cap"))
    val cold = got("cold")
    assert(cold.getAs[Long]("alloc_tokens") == 3000L)
    assert(cold.getAs[Double]("epochs") == 3000.0 / 9000.0)
    assert(!cold.getAs[Boolean]("over_cap"))
  }

  test("exactly 4.0 epochs is AT the knee, not over it (strict >)") {
    // tot_eff = 4000, budget = 12000; edge: floor(12000/3) = 4000
    // alloc over 1000 unique -> epochs exactly 4.0 -> NOT flagged
    val got = alloc(Seq(("edge", 1000L, 1.0 / 3.0),
      ("bulk", 3000L, 2.0 / 3.0)))
    val edge = got("edge")
    assert(edge.getAs[Long]("alloc_tokens") == 4000L)
    assert(edge.getAs[Double]("epochs") == 4.0)
    assert(!edge.getAs[Boolean]("over_cap"))
  }

  test("a zero-unique-mass source reports NULL epochs and no flag") {
    val got = alloc(Seq(("zero", 0L, 0.5), ("rest", 6000L, 0.5)))
    val zero = got("zero")
    assert(zero.isNullAt(zero.fieldIndex("epochs")))
    assert(!zero.getAs[Boolean]("over_cap"))
  }
}
