package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus

/** Benchmark process: prepares one workload's inputs, builds the
  * session with the engine's own recipe, runs one untimed warm-up pass
  * (charged to set-up) and then timed passes for `--seconds`. Prints
  * one line `PERFBENCH {json}` with the raw measurements; `run.py`
  * turns it into the benchmark's result line.
  *
  * {{{
  * perfbench.Main --workload pos_nightly --seed 1 --seconds 8
  *   --trace 0 --work .work [--setup-only] [--scale tiny]
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val steal0 = Proc.stealSeconds()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val preMainS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val opt = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val setupOnly = args.contains("--setup-only")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val scale = opt.getOrElse("scale", "full")
    val cores = Runtime.getRuntime.availableProcessors()

    val wl: Workload = opt("workload") match {
      case "pos_nightly" => new PosNightly(scale)
      case "analyst_queries" =>
        new AnalystQueries(scale, opt.get("expected"), opt.get("dump"))
      case other => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(work)
    val tg = System.nanoTime()
    wl.prepare(work, seed)
    val genS = (System.nanoTime() - tg) / 1e9

    val tb = System.nanoTime()
    val spark = graft.Sessions.local(cores.toString)
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val buildS = (System.nanoTime() - tb) / 1e9
    val trace = Trace.install(spark, enabled = traced)
    val ctx = new Ctx(spark, trace, seed,
      corrupt = args.contains("--corrupt"))

    val tw = System.nanoTime()
    val cg0 = trace.snapshot()
    wl.pass(ctx)
    Bus.drain(spark)
    val cg1 = trace.snapshot()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = preMainS + (System.nanoTime() - t0) / 1e9 - genS
    val setupStealS = Proc.stealSeconds() - steal0
    val warmFailed = ctx.failed
    ctx.failed = 0

    if (setupOnly) {
      println("PERFBENCH " + Json.obj(Seq(
        "setup_s" -> Json.num(setupS),
        "setup_steal_s" -> Json.num(setupStealS),
        "warm_failed" -> warmFailed.toString,
        "failures" -> ctx.failures.map(Json.str).mkString("[", ",", "]"))))
      spark.stop()
      return
    }

    // ---- timed region: whole passes until the time is up (at least the
    // workload's minimum; a pass that overruns is kept whole). With
    // tracing on, passes alternate untraced / traced / untraced..., at
    // least three, so the run measures its own tracing overhead with the
    // warming trend of the first passes on both sides.
    ctx.timing = true
    ctx.attempted = 0
    trace.spans.clear() // per-layer figures cover the timed passes only
    val snap0 = trace.snapshot()
    val stages0 = trace.stageIdsSeen
    val passWall = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedWall = scala.collection.mutable.ArrayBuffer.empty[Double]
    val plainWall = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tr0 = System.nanoTime()
    val minPasses = if (traced) wl.minPasses max 3 else wl.minPasses
    while (passWall.size < minPasses ||
        (System.nanoTime() - tr0) / 1e9 < seconds) {
      val on = !traced || passWall.size % 2 == 1
      trace.recording = on
      val tp = System.nanoTime()
      wl.pass(ctx)
      val dt = (System.nanoTime() - tp) / 1e9
      passWall += dt
      (if (on) tracedWall else plainWall) += dt
    }
    val regionS = (System.nanoTime() - tr0) / 1e9
    Bus.drain(spark)
    trace.recording = true
    val snap1 = trace.snapshot()
    val d = snap1.map { case (k, v) => k -> (v - snap0.getOrElse(k, 0.0)) }
    val passes = passWall.size

    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      def perPass(k: String) = d(k) / passes
      Seq("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
        "spill_bytes", "output_bytes", "output_files", "scan_tasks",
        "plan_s", "task_failures").foreach { k =>
        layers(s"spark.$k") = perPass(k)
      }
      layers("spark.codegen_s") = cg1("codegen_s") - cg0("codegen_s")
      layers("spark.codegen_classes") =
        cg1("codegen_classes") - cg0("codegen_classes")
      layers("spark.codegen_timed_classes") = perPass("codegen_classes")
      layers("spark.core_util") = d("task_s") / (regionS * cores)
      layers("spark.stage_skew") =
        trace.stageSkew(trace.stageIdsSeen -- stages0)
      layers("spark.peak_exec_mem_bytes") = trace.peakExecMem.toDouble
      layers("sessions.build_s") = buildS
      val tracedN = tracedWall.size
      wl.layerMetrics(ctx, tracedN).foreach { case (k, v) => layers(k) = v }
      layers("trace.overhead_frac") =
        if (plainWall.isEmpty) 0.0
        else median(tracedWall.toSeq) / median(plainWall.toSeq) - 1.0
      val out = work.resolve(s"trace-${wl.name}-$seed.jsonl")
      Files.write(out, trace.spansJson.toSeq.asJava)
    }

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("spark.app.")).map { case (k, v) =>
        k -> Json.str(v) }
    val prov = Seq(
      "cores_used" -> cores.toString,
      "spark_version" -> Json.str(spark.version),
      "jdk_version" -> Json.str(System.getProperty("java.version")),
      "scale" -> Json.str(scale),
      "gen_s" -> Json.num(genS),
      "warm_pass_s" -> Json.num(warmS),
      "sessions_build_s" -> Json.num(buildS),
      "timed_region_s" -> Json.num(regionS),
      "passes" -> passes.toString,
      "units_per_pass" -> wl.unitsPerPass.toString,
      "inputs" -> Json.obj(wl.inputSizes.map { case (k, v) =>
        k -> Json.num(v) }),
      "session_conf" -> Json.obj(conf))
    val result = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "setup_steal_s" -> Json.num(setupStealS),
      "pass_s" -> Json.arr(passWall.toSeq),
      "latencies" -> Json.arr(ctx.latencies.map(_._3).toSeq),
      "ops" -> ctx.latencies.map(l => Json.str(l._1)).mkString("[", ",", "]"),
      "op_cpu_s" -> Json.arr(ctx.cpu.toSeq),
      "op_steal_s" -> Json.arr(ctx.steal.toSeq),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "warm_failed" -> warmFailed.toString,
      "failures" -> ctx.failures.map(Json.str).mkString("[", ",", "]"),
      "rss_peak_mb" -> Json.num(Proc.vmHwmMb()),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "provenance" -> Json.obj(prov)))
    spark.stop()
    println("PERFBENCH " + result)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Stolen CPU time of the whole machine (the `steal` column of the
    * `cpu` line in /proc/stat, in clock ticks of 1/100 s). */
  def stealSeconds(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .lift(8).map(_.toDouble / 100.0).getOrElse(0.0)

  /** Peak resident set of this process (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
