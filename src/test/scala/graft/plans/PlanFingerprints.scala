package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Normalized physical-plan fingerprints for every registry query —
  * the generalization of the point contracts (Expand / NLJ / global
  * window / TopK) in PlanContractSpec: the OPERATOR MULTISET of the
  * STATIC (AQE off) physical plan is snapshotted to
  * `PLAN_FINGERPRINTS.txt` at the repo root, and PlanFingerprintSpec
  * fails on any unreviewed diff — so a silent regression (a lost
  * broadcast, a new Expand, a join degrading to nested-loop, a window
  * losing its partitioning) in ANY registry plan is caught at the
  * operator level even where no point contract exists.
  *
  * Only what the planner decides statically is fingerprinted: with
  * adaptive execution off the plan is a function of the query and
  * the table statistics alone, so it is the same on every run and
  * under any load. What AQE decides at stage boundaries from runtime
  * statistics (join promotion, stage reuse, skew splits) depends on
  * timing; a runtime behaviour the engine relies on is pinned on the
  * AQE-final plan by its own point contract (q271's exchange reuse in
  * PlanContractSpec, skew splits in SkewJoinSpec).
  *
  * The fingerprint is deliberately coarse: operator CLASS counts
  * only, no expressions, no ordering — fine enough to catch a changed
  * join strategy or an extra exchange, coarse enough to survive
  * alias/column churn. Exchanges count as distinct canonicalized
  * subtrees, so a reused exchange counts once.
  *
  * Regenerate after a REVIEWED plan change:
  *   sbt "Test/runMain graft.plans.PlanFingerprints"
  */
object PlanFingerprints {

  val SnapshotPath = "PLAN_FINGERPRINTS.txt"
  val SfDir = "/root/testdata/sf0.001"

  // codegen plumbing wraps strategy-identical plans differently, so a
  // fingerprint diff always means a STRATEGY change
  private val PlumbingOps =
    Set("WholeStageCodegen", "InputAdapter", "ColumnarToRow")

  /** Static operator multiset of the frame `build` returns. The frame
    * is built AND planned with `spark.sql.adaptive.enabled=false` on
    * `spark` (restored after): a frame checkpointed inside `build`
    * carries the output partitioning of the plan that computed it,
    * which with AQE on is the runtime-final one. Planning runs no job;
    * `build` runs whatever its own eager steps run. */
  def fingerprint(spark: SparkSession)(build: => DataFrame): String = {
    val plan = graft.TestSession.withConfOn(spark,
      "spark.sql.adaptive.enabled" -> "false")(
      build.queryExecution.executedPlan)
    val counts = scala.collection.mutable.Map.empty[String, Int]
    // ReusedExchange pointers fold into the set via their target
    val shuffles = scala.collection.mutable.Set.empty[Int]
    val bcasts = scala.collection.mutable.Set.empty[Int]
    def walk(p: SparkPlan): Unit = p match {
      case r: ReusedExchangeExec => walk(r.child)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        shuffles += e.canonicalized.hashCode()
        e.children.foreach(walk)
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike =>
        bcasts += e.canonicalized.hashCode()
        e.children.foreach(walk)
      case other =>
        val name = other.getClass.getSimpleName.stripSuffix("Exec")
        if (!PlumbingOps(name))
          counts(name) = counts.getOrElse(name, 0) + 1
        other.children.foreach(walk)
    }
    walk(plan)
    if (shuffles.nonEmpty) counts("ShuffleExchange") = shuffles.size
    if (bcasts.nonEmpty) counts("BroadcastExchange") = bcasts.size
    counts.toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString(",")
  }

  /** All registry fingerprints, sorted by query name. */
  def computeAll(spark: SparkSession): Seq[(String, String)] =
    graft.SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> fingerprint(spark)(
        graft.SparkEntry.queries(name)(spark, SfDir))
    }

  def parseSnapshot(text: String): Map[String, String] =
    text.linesIterator.filter(_.nonEmpty).filterNot(_.startsWith("#"))
      .map { l =>
        val i = l.indexOf(' ')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap

  /** Regen entry point — writes the snapshot file. */
  def main(args: Array[String]): Unit = {
    // THE test session: static planning reads session conf (broadcast
    // threshold, shuffle partitions), so the snapshot must be
    // generated under the session it is checked under
    val spark = graft.TestSession.spark
    spark.sparkContext.setLogLevel("ERROR")
    val lines =
      Seq("# static (AQE off) operator multiset per registry query at sf0.001.",
        "# Regenerate ONLY after reviewing the plan change:",
        "#   sbt \"Test/runMain graft.plans.PlanFingerprints\"") ++
        computeAll(spark).map { case (n, fp) => s"$n $fp" }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(SnapshotPath),
      lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote ${lines.size - 3} fingerprints to $SnapshotPath")
    spark.stop()
  }
}
