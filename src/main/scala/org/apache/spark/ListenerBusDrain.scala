package org.apache.spark

/** Access to Spark's private listener bus: block until every event
  * posted so far has been delivered, so listener and status-tracker
  * reads see every job and stage that has run. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
