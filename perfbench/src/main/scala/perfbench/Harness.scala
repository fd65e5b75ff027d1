package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** An output check that did not hold; thrown inside an operation so
  * the operation counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Per-run state shared by a workload's passes: the session, the
  * tracer, the latency log of the timed region and the failure count. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
                val corrupt: Boolean = false) {
  /** (operation, module, seconds) of every timed operation. */
  val latencies = mutable.ArrayBuffer.empty[(String, String, Double)]
  /** Process CPU seconds and the machine's stolen CPU seconds (time the
    * hypervisor gave the VM's CPUs to others) during each timed
    * operation, to tell a slow program from a busy host. */
  val cpu = mutable.ArrayBuffer.empty[Double]
  val steal = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** True inside the timed passes; the warm-up pass is not logged. */
  var timing = false

  /** Run one operation, timed, inside its own trace span. A throw or a
    * failed check marks it failed; the run goes on. */
  def op[T](name: String, layer: String)(body: => T): Option[T] = {
    val c0 = Proc.cpuSeconds()
    val s0 = Proc.stealSeconds()
    val t0 = System.nanoTime()
    val r =
      try Some(trace.span(spark, name, layer)(body))
      catch {
        case e: Exception =>
          failed += 1
          if (failures.size < 20)
            failures += s"$name: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(300)
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] op $name%s ${dt}%.3f s" +
      (if (r.isEmpty) " FAILED" else ""))
    attempted += 1
    if (timing) {
      latencies += ((name, layer, dt))
      cpu += Proc.cpuSeconds() - c0
      steal += Proc.stealSeconds() - s0
    }
    r
  }

  /** Time a sub-step inside an operation (a layer span, not an
    * operation: it is not counted in the latencies). */
  def step[T](name: String, layer: String)(body: => T): T =
    trace.span(spark, name, layer)(body)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
}

/** One benchmark workload. `prepare` makes the inputs (not timed as
  * set-up); `pass` runs once untimed as warm-up and then repeatedly in
  * the timed region. */
trait Workload {
  def name: String
  /** Timed passes every run makes, however long they take: per-operation
    * medians are taken over this many samples, so a run on a slower
    * host does not read fewer (and earlier, less warm) passes. */
  def minPasses: Int = 1
  /** Input units one pass consumes (tickets, queries, documents). */
  def unitsPerPass: Long
  def prepare(work: Path, seed: Long): Unit
  def pass(ctx: Ctx): Unit
  /** Input sizes for the run's provenance block. */
  def inputSizes: Map[String, Double]
  /** Layer metrics derived from the trace of the timed passes. */
  def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = Map.empty
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  def countXlsx(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(_.toString.endsWith(".xlsx")).count()
    finally s.close()
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var n = 0L
        s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally s.close()
    }
}
