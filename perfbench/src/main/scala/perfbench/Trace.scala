package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run: workload → operation → Spark job →
  * stage. `parent` is the id of the enclosing span (-1 at the root). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-stage facts gathered from task-end events (the stage-completed
  * aggregate does not carry the task-time distribution). */
final class StageFacts {
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** The benchmark's own observer. Operation spans are opened by the
  * main thread; Spark jobs carry the open span's id in the local
  * property [[Trace.SpanProp]], so every job and stage is attributed to
  * the operation that issued it. Counters are kept whether or not
  * tracing is on (they are read from events Spark posts anyway); the
  * span list and the per-task facts are only kept with tracing on. */
final class Trace(val enabled: Boolean) extends SparkListener
    with QueryExecutionListener {
  import Trace._

  private val clock0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  /** Listener event times are wall-clock ms; spans use nanoTime. */
  private def msToNs(ms: Long): Long = clock0 + (ms - wall0) * 1000000L

  /** Span recording can be paused (the traced run alternates traced
    * and untraced passes to measure its own overhead). */
  @volatile var recording = true
  private def keep: Boolean = enabled && recording

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val open = mutable.Stack.empty[(Long, String, String, Long)]

  // ---- counters (read as deltas around a region)
  @volatile var jobs, stages, tasks, taskFailures = 0L
  @volatile var taskMs, taskCpuNs, gcMs, fetchWaitMs = 0L
  @volatile var shuffleWrite, shuffleRead, spill, outputBytes = 0L
  @volatile var scanTasks, outputFiles = 0L
  @volatile var peakExecMem = 0L
  @volatile var planMs = 0L

  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  val stageFacts = mutable.Map.empty[Int, StageFacts]

  /** Open an operation span around `body`; jobs it issues are
    * attributed to it. Nested calls nest. */
  def span[T](spark: SparkSession, name: String, layer: String)(
      body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = if (open.isEmpty) -1L else open.top._1
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    open.push((id, name, layer, System.nanoTime()))
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      val (_, _, _, t0) = open.pop()
      sc.setLocalProperty(SpanProp, prev)
      if (keep) spans.add(Span(id, parent, name, layer, t0,
        System.nanoTime()))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(-1L)
    if (keep) {
      jobSpan(e.jobId) = (nextId.getAndIncrement(), parent, msToNs(e.time))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (enabled) jobSpan.remove(e.jobId).foreach { case (id, p, t0) =>
      spans.add(Span(id, p, s"job ${e.jobId}", "spark.job", t0,
        msToNs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stages += 1
      val m = si.taskMetrics
      if (m != null) {
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        outputBytes += m.outputMetrics.bytesWritten
        if (m.inputMetrics.bytesRead > 0) scanTasks += si.numTasks
      }
      if (keep) {
        val job = stageJob.getOrElse(si.stageId, -1)
        val parent = jobSpan.get(job).map(_._1).getOrElse(-1L)
        for (t0 <- si.submissionTime; t1 <- si.completionTime)
          spans.add(Span(nextId.getAndIncrement(), parent,
            s"stage ${si.stageId}", "spark.stage", msToNs(t0), msToNs(t1)))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      if (keep) {
        val f = stageFacts.getOrElseUpdate(e.stageId, new StageFacts)
        f.taskMs += e.taskInfo.duration
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    def files(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => files(a.executedPlan)
      case q: QueryStageExec => files(q.plan)
      case c: CommandResultExec => files(c.commandPhysicalPlan)
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").foreach(outputFiles += _.value)
      case other => other.children.foreach(files)
    }
    files(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Snapshot of every counter, for deltas around a region. */
  def snapshot(): Map[String, Double] = synchronized {
    val ct = CodegenMetrics.METRIC_COMPILATION_TIME
    val longs = Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_failures" -> taskFailures, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
      "output_bytes" -> outputBytes, "output_files" -> outputFiles,
      "scan_tasks" -> scanTasks,
      "codegen_classes" ->
        CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
    longs.map { case (k, v) => k -> v.toDouble } ++ Map(
      "task_s" -> taskMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
      "gc_s" -> gcMs / 1e3, "fetch_wait_s" -> fetchWaitMs / 1e3,
      "plan_s" -> planMs / 1e3,
      "codegen_s" -> ct.getCount * ct.getSnapshot.getMean / 1e3)
  }

  /** Largest over-median task-time ratio among the stages of the
    * traced region, taken on the stage with the most task time. */
  def stageSkew(stageIds: Set[Int]): Double = synchronized {
    val inRegion = stageFacts.filter { case (id, f) =>
      stageIds(id) && f.taskMs.nonEmpty }
    if (inRegion.isEmpty) 1.0
    else {
      val heaviest = inRegion.values.maxBy(_.taskMs.sum).taskMs.sorted
      val median = heaviest(heaviest.size / 2).max(1L)
      heaviest.last.toDouble / median
    }
  }

  def stageIdsSeen: Set[Int] = synchronized { stageFacts.keySet.toSet }

  /** All spans as JSON lines (written at the end of a traced run). */
  def spansJson: Iterator[String] = spans.asScala.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""layer":${Json.str(s.layer)},"start_ns":${s.startNs - clock0},""" +
      s""""end_ns":${s.endNs - clock0}}"""
  }

  /** Self time per layer over the recorded operation spans: a span's
    * duration minus the durations of its child operation spans (Spark
    * job/stage spans run inside an operation and are not subtracted). */
  def selfSecondsByLayer: Map[String, Double] = {
    val ops = spans.asScala.filterNot(_.layer.startsWith("spark.")).toSeq
    val childSum = ops.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    ops.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  def install(spark: SparkSession, enabled: Boolean): Trace = {
    val t = new Trace(enabled)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}

/** Minimal JSON rendering (the harness prints flat objects only). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
