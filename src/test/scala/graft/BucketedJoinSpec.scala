package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Co-located (bucketed) join: pre-bucketing both sides on the join
  * key removes the per-query shuffle entirely — the core technique
  * for repeated large-fact joins at 100 TB. Asserts the physical plan
  * has NO Exchange. */
class BucketedJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  test("bucketed tables join without a shuffle") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"

    Tables.orders(s, sf)
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    Tables.lineitem(s, sf)
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")

    val joined = s.table("lineitem_b")
      .join(s.table("orders_b"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val rows = joined.collect()
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.lineitem(s, sf).join(Tables.orders(s, sf),
        $"l_orderkey" === $"o_orderkey").count())

    // the join itself must not reshuffle either side: the only
    // exchange in the plan belongs to the final 5-row aggregation
    val plan = joined.queryExecution.executedPlan.toString
    val joinPart = plan.split("HashAggregate").last
    assert(!joinPart.contains("Exchange hashpartitioning"),
      s"join reshuffled:\n$plan")
  }
}
