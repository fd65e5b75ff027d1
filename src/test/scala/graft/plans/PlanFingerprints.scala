package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Normalized physical-plan fingerprints for every registry query —
  * the generalization of the point contracts (Expand / NLJ / global
  * window / TopK) in PlanContractSpec: the OPERATOR MULTISET of the
  * AQE-final plan is snapshotted to `PLAN_FINGERPRINTS.txt` at the
  * repo root, and PlanFingerprintSpec fails on any unreviewed diff —
  * so a silent regression (a lost broadcast, a new Expand, a join
  * degrading to nested-loop, a window losing its partitioning) in ANY
  * of the 217 green plans is caught at the operator level even where
  * no point contract exists.
  *
  * The fingerprint is deliberately coarse: operator CLASS counts
  * only, no expressions, no ordering — fine enough to catch a changed
  * join strategy or an extra exchange, coarse enough to survive
  * alias/column churn. Reused exchanges count once (the reuse node
  * itself is part of the shape); AQE wrapper/stage nodes are
  * traversed into and the wrappers themselves dropped.
  *
  * Regenerate after a REVIEWED plan change:
  *   sbt "Test/runMain graft.plans.PlanFingerprints"
  */
object PlanFingerprints {

  val SnapshotPath = "PLAN_FINGERPRINTS.txt"
  val SfDir = "/root/testdata/sf0.001"

  private val PlumbingOps =
    Set("WholeStageCodegen", "InputAdapter", "ColumnarToRow",
      "AQEShuffleRead")

  /** Queries whose AQE-FINAL shape is runtime-stat-sensitive and
    * flips between runs (observed: q207's forecast e2e rides
    * localCheckpoint'd frames whose first-run sizes sit at the
    * broadcast threshold, so SortMergeJoin↔BroadcastHashJoin
    * demotions vary with JVM warm-up; q138/q249's reused exchanges
    * canonicalize apart after AQE re-optimizes one stage's subtree).
    *
    * Round-8 finding, acting on ROADMAP r7 §1's "pin the threshold"
    * rule: pinning `spark.sql.adaptive.autoBroadcastJoinThreshold`
    * does NOT stabilize this set — probed 3 regens each at 64MB
    * (q138/q207/q212/q249 still flipped) and at -1 (q207 shuffle-set
    * drift remained and the pin DESTABILIZED previously-stable
    * q93/q230, because the race is WHETHER AQE re-optimizes a subtree
    * before its join is planned, and any non-default value makes the
    * re-optimized and static plans disagree). The threshold therefore
    * stays at its default, and these queries are pinned on the
    * STATIC-plan lane instead: their snapshot line is
    * `STATIC <fingerprint>` computed with AQE disabled — fully
    * deterministic, still catches strategy/exchange/operator
    * regressions — so every registry query is shape-compared; zero
    * queries are exempt. Admission to this set still requires 3
    * flipping regens, now evidenced in-file. */
  private val Volatile: Set[String] =
    if (sys.env.contains("SPARK_GRAFT_FP_NOVOLATILE")) Set.empty
    else Set("q207_deposit_flow_e2e", "q212_dbscan_census",
      "q138_retention_triangle", "q215_retrieval_metrics",
      "q249_nprobe_sweep",
      // round-8 admission: after the cluster-edge respelling, q147's
      // broadcast count flipped 2↔3 across 4 observed runs (the
      // distinct-canonicalized-broadcast set races on whether AQE
      // re-optimizes the shared simhash subtree before each consumer
      // plans its join)
      "q147_method_agreement",
      // round-12 admission: q230's ShuffleExchange set flipped 11↔12
      // in the round-11 DRIVER test run (VERIFY_r11.json, 349/350),
      // again in this round's opening sbt test under load, and in the
      // loaded regen probes — the canonicalized-shuffle set races on
      // whether AQE re-optimizes the tombstone-filtered index subtree
      // before its consumer plans (same mechanism as q138/q249)
      "q230_ann_tombstones")

  /** Post-execution (AQE-final) operator multiset of a frame.
    *
    * The execution must drive THIS Dataset's own QueryExecution — a
    * `write.format("noop")` runs a SEPARATE QueryExecution, leaving
    * `df.queryExecution`'s AdaptiveSparkPlanExec unexecuted so the
    * walk would see the INITIAL pre-AQE plan (no ReusedExchange, no
    * AQEShuffleRead, no runtime join demotions — exactly the
    * regressions this harness exists to catch; round-7 review
    * finding). Dataset.foreachPartition is no better — it drives the
    * SEPARATE `rddQueryExecution`. Running a do-nothing job over
    * `queryExecution.toRdd` finalizes the right AdaptiveSparkPlanExec
    * in place without collecting rows to the driver. */
  def fingerprint(df: DataFrame): String = {
    df.queryExecution.toRdd.foreachPartition(_ => ())
    val counts = scala.collection.mutable.Map.empty[String, Int]
    // AQE stage REUSE is a race (concurrent stage submission hits the
    // stage cache or doesn't), so raw exchange-node counts flip
    // between identical runs. Exchanges are therefore counted as
    // DISTINCT CANONICALIZED subtrees — reuse or rematerialization of
    // the same logical exchange lands on one set entry either way —
    // and ReusedExchange pointers fold into the set via their target.
    val shuffles = scala.collection.mutable.Set.empty[Int]
    val bcasts = scala.collection.mutable.Set.empty[Int]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        shuffles += e.canonicalized.hashCode()
        e.children.foreach(walk)
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike =>
        bcasts += e.canonicalized.hashCode()
        e.children.foreach(walk)
      case other =>
        val name = other.getClass.getSimpleName.stripSuffix("Exec")
        // codegen plumbing wraps strategy-identical plans differently
        // depending on whether AQE re-planned the subtree, and
        // AQEShuffleRead is a partition-coalescing detail that rides
        // the same reuse race — drop both so a fingerprint diff
        // always means a STRATEGY change
        if (!PlumbingOps(name))
          counts(name) = counts.getOrElse(name, 0) + 1
        other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    if (shuffles.nonEmpty) counts("ShuffleExchange") = shuffles.size
    if (bcasts.nonEmpty) counts("BroadcastExchange") = bcasts.size
    counts.toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString(",")
  }

  /** [[fingerprint]] of the STATIC physical plan — AQE disabled for
    * just this query (session conf read at planning time, restored
    * after). Deterministic by construction: no runtime stats, no
    * stage races — the pinning lane for the [[Volatile]] set. */
  def staticFingerprint(build: => DataFrame): String =
    graft.TestSession.withConf("spark.sql.adaptive.enabled" -> "false")(
      fingerprint(build))

  /** All registry fingerprints, sorted by query name. */
  def computeAll(spark: org.apache.spark.sql.SparkSession)
      : Seq[(String, String)] =
    graft.SparkEntry.queries.keys.toSeq.sorted.map { name =>
      if (Volatile(name))
        name -> ("STATIC " + staticFingerprint(
          graft.SparkEntry.queries(name)(spark, SfDir)))
      else
        name -> fingerprint(graft.SparkEntry.queries(name)(spark, SfDir))
    }

  def parseSnapshot(text: String): Map[String, String] =
    text.linesIterator.filter(_.nonEmpty).filterNot(_.startsWith("#"))
      .map { l =>
        val i = l.indexOf(' ')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap

  /** Regen entry point — writes the snapshot file. */
  def main(args: Array[String]): Unit = {
    // THE test session — AQE decisions (shuffle coalescing, broadcast
    // demotion) are config- and stats-driven, so the snapshot must be
    // generated under the session it is checked under
    val spark = graft.TestSession.spark
    spark.sparkContext.setLogLevel("ERROR")
    val lines =
      Seq("# AQE-final operator multiset per registry query at sf0.001.",
        "# Regenerate ONLY after reviewing the plan change:",
        "#   sbt \"Test/runMain graft.plans.PlanFingerprints\"") ++
        computeAll(spark).map { case (n, fp) => s"$n $fp" }
    // SPARK_GRAFT_FP_OUT: write elsewhere (stability probes — 3 regen
    // runs diffed against each other — must not clobber the snapshot)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_FP_OUT", SnapshotPath)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote ${lines.size - 3} fingerprints to $outPath")
    spark.stop()
  }
}
