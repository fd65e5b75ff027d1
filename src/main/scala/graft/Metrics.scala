package graft

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext, StageOperators}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** The stage-level metrics listener the dev tools read (`Profile`,
  * `ScaleRehearsal`): it counts jobs and keeps one row per completed
  * stage, named by the SQL operators it ran. Both reads drain the
  * listener bus first, so a snapshot taken right after an action has
  * every job and stage of it, with no sleep.
  *
  *   val m = new Metrics; sc.addSparkListener(m)
  *   m.reset(sc); df.write.format("noop").save(); m.snapshot(sc)
  */
final class Metrics extends SparkListener {
  import Metrics._

  private var jobs = 0
  private val stages = mutable.ArrayBuffer.empty[Stage]

  override def onJobStart(j: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = i.taskMetrics
    // under AQE every stage's callsite is the same CompletableFuture
    // frame, so a stage is named by the operators it ran
    val ops = StageOperators(i)
    val name =
      if (ops.nonEmpty) ops.mkString(" / ")
      else i.name.takeWhile(_ != '\n').trim
    val row = Stage(name, m.executorRunTime,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
      i.numTasks)
    synchronized { stages += row }
  }

  /** Drops everything seen so far, including events still in flight
    * from earlier work. */
  def reset(sc: SparkContext): Unit = {
    ListenerBusDrain(sc)
    synchronized { jobs = 0; stages.clear() }
  }

  /** The jobs and completed stages since the last reset. */
  def snapshot(sc: SparkContext): Snapshot = {
    ListenerBusDrain(sc)
    synchronized { Snapshot(jobs, stages.toVector) }
  }
}

object Metrics {
  /** One completed stage: its name (the operators it ran, joined by
    * " / ", or the first line of its callsite when it ran none), summed
    * executor run time, shuffle read/write and input bytes, tasks. */
  final case class Stage(name: String, taskMs: Long, shuffleReadB: Long,
                         shuffleWriteB: Long, inputB: Long, tasks: Int)

  final case class Snapshot(jobs: Int, stages: Seq[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
    def taskMs: Long = stages.map(_.taskMs).sum
    def shuffleWriteB: Long = stages.map(_.shuffleWriteB).sum

    /** Stages summed per name, by task time descending: the same
      * logical stage compared across runs or inputs. */
    def groups: Seq[Stage] = stages.groupBy(_.name).toSeq.map {
      case (n, rs) => Stage(n, rs.map(_.taskMs).sum,
        rs.map(_.shuffleReadB).sum, rs.map(_.shuffleWriteB).sum,
        rs.map(_.inputB).sum, rs.map(_.tasks).sum)
    }.sortBy(-_.taskMs)
  }
}
