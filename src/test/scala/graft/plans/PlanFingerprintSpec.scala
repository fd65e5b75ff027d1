package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot contract over every registry query's static (AQE off)
  * physical plan: the operator multiset must match
  * `PLAN_FINGERPRINTS.txt`. Planning runs no job and reads no runtime
  * statistics, so the check is deterministic. A diff here means a
  * PLAN changed — review it (did a broadcast disappear? did an
  * Expand/NLJ/global-sort appear?), then regenerate the snapshot with
  * `sbt "Test/runMain graft.plans.PlanFingerprints"` to accept. New
  * queries must be snapshotted the same way. */
class PlanFingerprintSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("every registry plan matches its reviewed fingerprint") {
    val path = java.nio.file.Paths.get(PlanFingerprints.SnapshotPath)
    assert(java.nio.file.Files.exists(path),
      s"missing ${PlanFingerprints.SnapshotPath} — generate it with " +
        "sbt \"Test/runMain graft.plans.PlanFingerprints\"")
    val want = PlanFingerprints.parseSnapshot(
      java.nio.file.Files.readString(path))
    val got = PlanFingerprints.computeAll(spark).toMap
    val missing = got.keySet.diff(want.keySet).toSeq.sorted
    assert(missing.isEmpty,
      s"queries with no snapshotted fingerprint (regen to accept): " +
        missing.mkString(", "))
    val gone = want.keySet.diff(got.keySet).toSeq.sorted
    assert(gone.isEmpty,
      s"snapshot has fingerprints for unknown queries: " +
        gone.mkString(", "))
    val diffs = got.keys.toSeq.sorted.filter(k => got(k) != want(k))
    assert(diffs.isEmpty, diffs.map { k =>
      s"$k\n  snapshot: ${want(k)}\n  current : ${got(k)}"
    }.mkString("plan fingerprints changed — review, then regen:\n",
      "\n", ""))
  }
}
