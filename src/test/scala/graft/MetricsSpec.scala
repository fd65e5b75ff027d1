package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Metrics]] stage naming. */
class MetricsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  test("an AQE aggregate's stage rows are named by their operators") {
    val spark = TestSession.spark
    val sc = spark.sparkContext
    val df = Tables.lineitem(spark, sf).groupBy("l_returnflag").count()
    val metrics = new Metrics
    sc.addSparkListener(metrics)
    try {
      metrics.reset(sc)
      TestSession.withConf("spark.sql.adaptive.enabled" -> "true") {
        df.write.format("noop").mode("overwrite").save()
      }
      val names = metrics.snapshot(sc).stages.map(_.name)
      info(names.mkString("\n"))
      assert(!names.exists(_.contains("CompletableFuture")), names)
      assert(names.count(_.contains("Exchange")) == 1, names)
    } finally sc.removeSparkListener(metrics)
  }
}
