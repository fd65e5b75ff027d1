package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** The custom top-k-per-group operator: result parity with the window
  * spelling, the two-phase plan shape, and edge semantics. */
class TopKPlanSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.TestSession.spark

  private def docs = graft.Tables.documents(spark, sf)
    .select(col("doc_id"), col("lang"), col("n_chars"))

  test("matches the row_number window spelling exactly") {
    val ours = TopK.perGroup(docs, Seq("lang"),
      Seq(("n_chars", true), ("doc_id", false)), 3)
      .select("lang", "doc_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val ref = docs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("lang", "doc_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(ours == ref, s"ours=$ours ref=$ref")
  }

  test("plans partial below the exchange, final above it") {
    val df = TopK.perGroup(docs, Seq("lang"),
      Seq(("n_chars", true), ("doc_id", false)), 3)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    val iFinal = p.indexOf("TopKFinal")
    val iEx = p.indexOf("Exchange hashpartitioning")
    val iPartial = p.indexOf("TopKPartial")
    assert(iFinal >= 0 && iEx >= 0 && iPartial >= 0, p.take(2000))
    // plans print top-down: final consumes the exchange fed by partial
    assert(iFinal < iEx && iEx < iPartial, p.take(2000))
    // and no full-partition sort anywhere — that is the point
    assert(!p.contains("Sort "), p.take(2000))
  }

  test("k >= group size returns whole groups, fully ranked") {
    val langs = docs.select("lang").distinct().count()
    val all = TopK.perGroup(docs, Seq("lang"),
      Seq(("n_chars", true), ("doc_id", false)), 1000000)
    assert(all.count() == docs.count())
    assert(all.filter(col("rank") === 1).count() == langs)
  }

  test("GLOBAL top-k (no group keys) plans AllTuples, not a crash") {
    val ours = TopK.perGroup(docs, Seq(),
      Seq(("n_chars", true), ("doc_id", false)), 5)
      .select("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.orderBy(col("n_chars").desc, col("doc_id").asc)
    val ref = docs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ours == ref)
  }

  test("ascending order and multi-column groups work") {
    val ours = TopK.perGroup(docs.withColumn("b", col("doc_id") % 2),
      Seq("lang", "b"), Seq(("n_chars", false), ("doc_id", false)), 2)
      .select("lang", "b", "doc_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val w = Window.partitionBy(col("lang"), col("b"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val ref = docs.withColumn("b", col("doc_id") % 2)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select("lang", "b", "doc_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(ours == ref)
  }
}
