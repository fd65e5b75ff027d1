package graft
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev-only perf decomposition for optimization work (not part of the
  * driver contract): for each named query, measures analysis+planning
  * time, execution wall time, and via a listener the job/stage/task
  * counts, summed task time, and shuffle bytes — so "slow" can be
  * attributed to plan/codegen overhead vs real compute vs scheduling.
  * Usage: sbt "runMain graft.Profile q271 q262" (substring match,
  * same contract as Bench's SPARK_GRAFT_ONLY).
  */
object Profile {
  private class Acc extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val shufWrite = new AtomicLong
    val shufRead = new AtomicLong
    // stageId -> (name, taskTimeMs, nTasks) for hot-stage attribution
    val stageTime = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int)]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      stageName.put(s.stageInfo.stageId,
        s.stageInfo.name.takeWhile(_ != '\n').take(90))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        stageTime.merge(t.stageId,
          (stageName.getOrDefault(t.stageId, "?"), m.executorRunTime, 1),
          (a, b) => (a._1, a._2 + b._2, a._3 + b._3))
      }
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0)
      shufWrite.set(0); shufRead.set(0); stageTime.clear(); stageName.clear()
    }
    def hotStages(k: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      stageTime.values.asScala.toSeq.sortBy(-_._2).take(k).map {
        case (n, ms, nt) => f"      ${ms / 1e3}%7.2fs ${nt}%4d tasks  $n"
      }
    }
  }

  private def codegenMs(): (Long, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    (CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    val spark = Sessions.checked(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    val pats = args.toSeq
    val selected = SparkEntry.queries
      .filter { case (n, _) => pats.isEmpty || pats.exists(n.contains) }
      .toSeq.sortBy(_._1)
    println(f"${"query"}%-34s ${"plan_s"}%7s ${"exec_s"}%7s " +
      f"${"jobs"}%5s ${"stg"}%4s ${"tasks"}%6s ${"taskT_s"}%8s " +
      f"${"cgen_s"}%7s ${"cgenN"}%6s ${"shW_MB"}%7s")
    selected.foreach { case (name, fn) =>
      (1 to reps).foreach { _ =>
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.gc()
        val (cg0, cn0) = codegenMs()
        acc.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        // force analysis + optimization + physical planning (NOT exec).
        // NOTE: eager localCheckpoints inside a query body run jobs
        // during "planning" — their cost lands here by design; the
        // listener covers BOTH phases (reset is before fn()).
        df.queryExecution.executedPlan
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        Thread.sleep(150) // let listener events drain
        val (cg1, cn1) = codegenMs()
        println(f"$name%-34s ${(t1 - t0) / 1e9}%7.2f ${(t2 - t1) / 1e9}%7.2f " +
          f"${acc.jobs.get}%5d ${acc.stages.get}%4d ${acc.tasks.get}%6d " +
          f"${acc.taskTimeMs.get / 1e3}%8.2f ${(cg1 - cg0) / 1e3}%7.2f " +
          f"${cn1 - cn0}%6d ${acc.shufWrite.get / 1e6}%7.1f")
        if (sys.env.contains("SPARK_GRAFT_STAGES"))
          acc.hotStages(sys.env("SPARK_GRAFT_STAGES").toInt)
            .foreach(println)
      }
    }
    spark.stop()
  }
}
