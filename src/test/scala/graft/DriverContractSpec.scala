package graft

import org.scalatest.funsuite.AnyFunSuite

/** In-process half of the driver-gate contract self-check (round-8
  * verdict item 2; the file-layout half is tools/check_contract.py
  * against the committed tools/driver_contract.json schema).
  *
  * Round 8's official correctness artifact came back `{}` — a
  * harness-side loss nothing engine-side could catch because the
  * driver-facing registry surface was asserted nowhere. These tests
  * pin it: any drift in the queries/oracleSql enumeration the driver
  * consumes turns a silent empty artifact into a red test.
  */
class DriverContractSpec extends AnyFunSuite {

  private val contract: String = new String(
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/driver_contract.json")), "UTF-8")

  /** The committed rows-only set (queries with no oracle by design —
    * sketch estimates are engine-specific). Parsed from the same file
    * check_contract.py reads, so the two halves cannot drift apart. */
  private val rowsOnly: Set[String] =
    "\"(q[0-9]+[a-z0-9_]*)\"".r.findAllMatchIn(
      "\"rows_only\"\\s*:\\s*\\[[^\\]]*\\]".r.findFirstIn(contract)
        .getOrElse(fail("driver_contract.json has no rows_only array")))
      .map(_.group(1)).toSet

  test("every oracleSql key has a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracle entries with no query (driver would fail them): $orphans")
  }

  test("queries minus oracleSql is exactly the documented rows-only set") {
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled == rowsOnly,
      s"rows-only drift: registry says $unoracled, " +
        s"tools/driver_contract.json says $rowsOnly — update the schema " +
        "file in the same commit as the registry change")
  }

  test("every query name matches the driver-facing name pattern") {
    val pat = "^q[0-9]+[a-z0-9_]*$".r
    val bad = SparkEntry.queries.keySet.filter(pat.findFirstIn(_).isEmpty)
    assert(bad.isEmpty, s"non-conforming query names: $bad")
  }

  test("no oracle SQL is empty and none contains an unescapable control char") {
    // Verify.q() escapes all control chars — this guards the one class
    // it can't: a NUL would survive json-spec escaping but has broken
    // downstream json parsers before. Also catch accidentally-empty SQL
    // (an empty string passes json.load and then fails in DuckDB as a
    // confusing per-query error).
    SparkEntry.oracleSql.foreach { case (k, v) =>
      assert(v.trim.nonEmpty, s"$k: empty oracle SQL")
      assert(!v.contains('\u0000'), s"$k: oracle SQL contains NUL")
    }
  }

  test("module query maps do not collide (++ would silently drop one)") {
    val modules: Seq[(String, Set[String])] = Seq(
      "Relational" -> ops.Relational.queries.keySet,
      "ScalarParity" -> ops.ScalarParity.queries.keySet,
      "WindowOps" -> ops.WindowOps.queries.keySet,
      "TextOps" -> ops.TextOps.queries.keySet,
      "DedupOps" -> ops.DedupOps.queries.keySet,
      "VectorOps" -> ops.VectorOps.queries.keySet,
      "MartOps" -> ops.MartOps.queries.keySet,
      "MultiModal" -> ops.MultiModal.queries.keySet,
      "EventOps" -> ops.EventOps.queries.keySet,
      "ScaleOps" -> ops.ScaleOps.queries.keySet,
      "DomainParity" -> ops.DomainParity.queries.keySet,
      "CorpusOps" -> ops.CorpusOps.queries.keySet,
      "Scd2" -> ops.Scd2.queries.keySet,
      "InsightOps" -> ops.InsightOps.queries.keySet)
    val perModule = modules.map(_._2.size).sum
    val merged = SparkEntry.queries.size
    assert(perModule == merged, {
      val all = modules.flatMap { case (m, ks) => ks.map(_ -> m) }
      val dups = all.groupBy(_._1).filter(_._2.size > 1)
        .map { case (k, ms) => s"$k in ${ms.map(_._2).mkString("+")}" }
      s"query-name collisions across modules: ${dups.mkString(", ")}"
    })
  }

  test("the SPARK_GRAFT_ONLY rule selects by substring and names " +
    "every substring that matches no query") {
    assert(SparkEntry.selectedNames(None) ==
      SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.selectedNames(Some(" q01_agg, ")) ==
      Seq("q01_agg_pricing"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectedNames(Some("q9999,q01_agg,nope")))
    assert(e.getMessage.contains("'q9999', 'nope'"), e.getMessage)
  }
}
