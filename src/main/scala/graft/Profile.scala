package graft

/** Dev-only perf decomposition for optimization work (not part of the
  * driver contract): for each named query, measures analysis+planning
  * time, execution wall time, codegen time, and from [[Metrics]] the
  * job/stage/task counts, summed task time and shuffle write bytes —
  * so "slow" can be attributed to plan/codegen overhead vs real
  * compute vs scheduling. `SPARK_GRAFT_STAGES=k` also prints each
  * run's k stages with the most task time.
  * Usage: sbt "runMain graft.Profile q271 q262" (substring match,
  * the SPARK_GRAFT_ONLY rule of [[SparkEntry.selectedNames]]).
  */
object Profile {
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
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val metrics = new Metrics
    sc.addSparkListener(metrics)
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    val queries = SparkEntry.queries
    val selected = SparkEntry.selectedNames(Some(args.mkString(",")))
      .map(n => n -> queries(n))
    println(f"${"query"}%-34s ${"plan_s"}%7s ${"exec_s"}%7s " +
      f"${"jobs"}%5s ${"stg"}%4s ${"tasks"}%6s ${"taskT_s"}%8s " +
      f"${"cgen_s"}%7s ${"cgenN"}%6s ${"shW_MB"}%7s")
    selected.foreach { case (name, fn) =>
      (1 to reps).foreach { _ =>
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
        val (cg0, cn0) = codegenMs()
        metrics.reset(sc)
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
        val m = metrics.snapshot(sc)
        val (cg1, cn1) = codegenMs()
        println(f"$name%-34s ${(t1 - t0) / 1e9}%7.2f ${(t2 - t1) / 1e9}%7.2f " +
          f"${m.jobs}%5d ${m.stages.size}%4d ${m.tasks}%6d " +
          f"${m.taskMs / 1e3}%8.2f ${(cg1 - cg0) / 1e3}%7.2f " +
          f"${cn1 - cn0}%6d ${m.shuffleWriteB / 1e6}%7.1f")
        sys.env.get("SPARK_GRAFT_STAGES").foreach { k =>
          m.stages.sortBy(-_.taskMs).take(k.toInt).foreach { s =>
            println(f"      ${s.taskMs / 1e3}%7.2fs ${s.tasks}%4d tasks  " +
              s.name.take(90))
          }
        }
      }
    }
    spark.stop()
  }
}
