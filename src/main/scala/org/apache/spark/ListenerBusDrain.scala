package org.apache.spark

/** Access to Spark's private listener bus: block until every event
  * posted so far has been delivered, so listener and status-tracker
  * reads see every job and stage that has run. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** The SQL operators a stage ran: the distinct operation scopes of its
  * RDDs (`Scan parquet …`, `WholeStageCodegen (n)`, `Exchange`), in RDD
  * id order. Empty for RDDs built outside any scope. */
object StageOperators {
  def apply(info: scheduler.StageInfo): Seq[String] =
    info.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim)).distinct
}
