package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** The ×1024 depth probe WITH per-stage cost decomposition — round-8
  * verdict item 1. The ×256 probe left two α ≈ 1.1 residues (q98
  * union-dup-clusters, q250 ppl-gate); this runner re-measures them one
  * octave deeper and records WHERE the time goes: per completed stage,
  * the aggregated executor task time, shuffle read/write bytes, input
  * bytes, and task count, grouped by the stage's callsite name so the
  * same logical stage can be compared across amplifications. A
  * stage-group whose task time grows ≫ linearly names the saturating
  * structure; uniform mild growth across groups means constant-factor
  * costs (GC, spill, scheduler), not a plan defect.
  *
  *   sbt "Test/runMain graft.ScaleStageProbe [sfDir] [workDir] [amps]"
  *   env: SPARK_GRAFT_SCALE_OUT (default SCALE_r09_deep.json),
  *        SPARK_GRAFT_ONLY (default q98,q250), SPARK_GRAFT_CPUS
  *
  * defaults: /root/testdata/sf0.1 target/scale 256,1024
  */
object ScaleStageProbe {

  private class StageMetrics extends SparkListener {
    case class Row(name: String, taskTimeMs: Long, shufReadB: Long,
                   shufWriteB: Long, inputB: Long, tasks: Int)
    val rows: mutable.Buffer[Row] =
      mutable.Buffer.empty[Row]
    override def onStageCompleted(
        sc: SparkListenerStageCompleted): Unit = synchronized {
      val i = sc.stageInfo
      val m = i.taskMetrics
      rows += Row(i.name.takeWhile(_ != '\n').trim,
        m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, i.numTasks)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("target/scale")
    val amps = args.lift(2).getOrElse("256,1024")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val outJson =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_r09_deep.json")
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "q98,q250")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .map(p => SparkEntry.queries.keys.find(_.contains(p)).getOrElse(
        sys.error(s"no query matches '$p'")))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.checked(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_SCALE_SKEW probes the Zipf/dup-family profile (the
    // q98-vs-q276 epsilon-vs-kNN contrast needs family sizes only the
    // deep amplifications reach)
    val skew = sys.env.contains("SPARK_GRAFT_SCALE_SKEW")
    val dirs: Map[Int, String] = amps.map { a =>
      val dir = if (skew) s"$workDir/skew-x$a" else s"$workDir/x$a"
      ScaleRehearsal.amplify(spark, sfDir, dir, a, skew)
      a -> dir
    }.toMap

    val listener = new StageMetrics
    spark.sparkContext.addSparkListener(listener)

    // (query, amp) -> (totalSec, stage-group rows)
    val results = mutable.LinkedHashMap.empty[(String, Int),
      (Double, Seq[(String, Long, Long, Long, Long, Int)])]
    for (a <- amps; name <- names) {
      listener.synchronized(listener.rows.clear())
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dirs(a))
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(3000) // let the listener bus drain
      val grouped = listener.synchronized {
        listener.rows.groupBy(_.name).map { case (n, rs) =>
          (n, rs.map(_.taskTimeMs).sum, rs.map(_.shufReadB).sum,
            rs.map(_.shufWriteB).sum, rs.map(_.inputB).sum,
            rs.map(_.tasks).sum)
        }.toSeq.sortBy(-_._2)
      }
      results((name, a)) = (dt, grouped)
      println(s"[probe] $name x$a: ${"%.1f".format(dt)} s, " +
        s"${grouped.size} stage groups")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }

    def q(s: String) = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val lo = amps.head
    val hi = amps.last
    val queriesJson = names.map { name =>
      val (tLo, _) = results((name, lo))
      val (tHi, stHi) = results((name, hi))
      val alpha = math.log(tHi / tLo) /
        math.log(hi.toDouble / lo.toDouble)
      val stLoMap = results((name, lo))._2
        .map(r => r._1 -> r).toMap
      val stages = stHi.take(20).map { case (n, tt, sr, sw, in, nt) =>
        val loRow = stLoMap.get(n)
        val growth = loRow.map(l =>
          if (l._2 > 0) tt.toDouble / l._2 else -1.0).getOrElse(-1.0)
        s"""{"stage":${q(n)},"task_ms_hi":$tt,""" +
          s""""task_ms_lo":${loRow.map(_._2).getOrElse(-1L)},""" +
          s""""growth":${"%.2f".format(growth)},""" +
          s""""shuffle_read_b":$sr,"shuffle_write_b":$sw,""" +
          s""""input_b":$in,"tasks":$nt}"""
      }.mkString("[", ",", "]")
      s"""${q(name)}:{"t_x$lo":$tLo,"t_x$hi":$tHi,""" +
        s""""alpha":${"%.3f".format(alpha)},""" +
        s""""subquadratic_pass":${alpha < 2.0},""" +
        s""""stage_groups_x$hi":$stages}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"sf":${q(sfDir)},"amplifications":[${amps.mkString(",")}],""" +
      s""""profile":${q(if (skew) "skew" else "uniform")},""" +
      s""""cpus":$cpus,""" +
      s""""alpha_grading":"fit between x$lo and x$hi",""" +
      s""""stage_grouping":"by callsite name; growth = task-time """ +
      s"""x$hi / x$lo for the same group; linear would be ${
        hi / lo}.0",""" +
      s""""queries":$queriesJson}"""
    Files.writeString(Paths.get(outJson), json + "\n")
    println(s"[probe] wrote $outJson")
    spark.stop()
  }
}
