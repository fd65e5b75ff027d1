package graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code runs: the block runs
  * under a fresh job group, the listener bus is drained so the status
  * tracker has seen every job, and the group's job ids are counted.
  * Adaptive query stages and broadcasts are jobs of their own, so the
  * count is the number of scheduler round trips the block costs. */
object JobCount {
  def apply[T](spark: SparkSession, label: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"$label-${System.nanoTime}"
    sc.setJobGroup(group, label)
    val out = try body finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
