package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Waits until Spark's listener bus has delivered every posted event,
  * so counters read after a region include all of its jobs. The bus is
  * package-private to Spark, hence this package. */
object Bus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
