package org.apache.spark

/** Test access to Spark's private listener bus: block until every
  * event posted so far has been delivered, so status-tracker reads
  * see every job that has run. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
