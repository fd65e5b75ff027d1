package graft.plans

import graft.TestSession.withConf
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom as-of join physical operator: exact agreement with the
  * declarative union+window spelling (q94), plan shape (exchanges +
  * sorts inserted by EnsureRequirements around AsOfJoinExec), and the
  * no-match / equal-timestamp edges. */
class AsOfJoinPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("matches the declarative union+window spelling on events data") {
    val s = spark
    import s.implicits._
    val ev = graft.Tables.events(s, "/root/testdata/sf0.001")
    val refs = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"value".as("signup_value"))
    val facts = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")

    val custom = AsOf.join(facts, refs, "user_id", "ts",
        Seq("signup_value"))
      .select($"event_id", $"signup_value")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap

    val expected = graft.ops.EventOps
      .q94AsofJoin(s, "/root/testdata/sf0.001")
      .select($"event_id", $"signup_value")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap

    assert(custom.size == expected.size && custom.size > 0)
    assert(custom == expected)
  }

  private val Broadcast = "spark.sql.autoBroadcastJoinThreshold"

  test("plan: merge exec with exchanges and (key, time) sorts") {
    val s = spark
    import s.implicits._
    // disable broadcast → co-partitioned merge
    withConf(Broadcast -> "-1") {
      val facts = Seq((1L, 10L, "a"), (2L, 5L, "b")).toDF("k", "t", "x")
        .repartition(4)
      val refs = Seq((1L, 3L, 100.0)).toDF("k", "t", "v").repartition(3)
      val df = AsOf.join(facts, refs, "k", "t", Seq("v"))
      df.collect() // finalize (AQE resolves the plan on execution)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), plan) // nodeName drops "Exec"
      assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 2, plan)
      assert("Sort \\[k".r.findAllIn(plan).size >= 2, plan)
    }
  }

  test("plan: small right side broadcasts — zero exchanges, zero sorts") {
    val s = spark
    import s.implicits._
    val facts = Seq((1L, 10L, "a"), (2L, 5L, "b")).toDF("k", "t", "x")
    val refs = Seq((1L, 3L, 100.0), (1L, 8L, 200.0)).toDF("k", "t", "v")
    val df = AsOf.join(facts, refs, "k", "t", Seq("v"))
    val rows = df.collect().map(r => (r.getLong(0),
      if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    assert(rows == Set((1L, 200.0), (2L, null))) // latest ≤ t wins
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastAsOfJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Sort ["), plan)
  }

  test("broadcast and merge paths agree on events data") {
    val s = spark
    import s.implicits._
    val ev = graft.Tables.events(s, "/root/testdata/sf0.001")
    val refs = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"value".as("sv"))
    val facts = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    def run() = AsOf.join(facts, refs, "user_id", "ts", Seq("sv"))
      .select($"event_id", $"sv").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val viaBroadcast = withConf(Broadcast -> "10485760") { run() }
    val viaMerge = withConf(Broadcast -> "-1") { run() }
    assert(viaBroadcast == viaMerge && viaBroadcast.nonEmpty)
  }

  test("edges: no earlier ref → nulls; equal timestamp matches; last wins") {
    val s = spark
    import s.implicits._
    val facts = Seq(
      (1L, 10L, 100L), // before any ref → null
      (1L, 20L, 101L), // equal ts to ref at 20 → matches (≤ semantics)
      (1L, 40L, 102L), // after refs at 20 and 30 → LAST (30) wins
      (2L, 99L, 103L)  // key with no refs at all
    ).toDF("k", "t", "fact_id")
    val refs = Seq(
      (1L, 20L, 1.0), (1L, 30L, 2.0), (3L, 1L, 9.0)
    ).toDF("k", "t", "v")
    val got = AsOf.join(facts, refs, "k", "t", Seq("v"))
      .select($"fact_id", $"v").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got == Map(100L -> null, 101L -> 1.0, 102L -> 2.0,
      103L -> null))
  }

  test("string keys survive buffer reuse; NULL keys/times never match") {
    val s = spark
    import s.implicits._
    // string keys: the merge path's candidate key must be a COPY, or
    // the reused unsafe shuffle row mutates it between left rows
    val facts = Seq(
      (Some("a"), Some(10L), 1L), (Some("a"), Some(30L), 2L),
      (Some("b"), Some(30L), 3L), (None, Some(30L), 4L),
      (Some("c"), None, 5L))
      .toDF("k", "t", "fact_id")
    val refs = Seq(
      (Some("a"), Some(5L), 1.0), (Some("b"), Some(20L), 2.0),
      (None, Some(1L), 9.0), (Some("c"), None, 8.0),
      (Some("c"), Some(1L), 3.0))
      .toDF("k", "t", "v")
    def run() = graft.plans.AsOf.join(facts, refs, "k", "t", Seq("v"))
      .select($"fact_id", $"v").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    val expected = Map[Long, Any](1L -> 1.0, 2L -> 1.0, 3L -> 2.0,
      4L -> null, // NULL fact key matches nothing (not key "a"/"b")
      5L -> null) // NULL fact time matches nothing
    val viaMerge = withConf(Broadcast -> "-1") { run() }
    val viaBcast = withConf(Broadcast -> "10485760") { run() }
    assert(viaMerge == expected, viaMerge)
    assert(viaBcast == expected, viaBcast)
  }

  test("column names resolve case-insensitively like the analyzer") {
    val s = spark
    import s.implicits._
    val facts = Seq((1L, 10L)).toDF("K", "T")
    val refs = Seq((1L, 5L, 2.5)).toDF("k", "t", "V")
    val rows = graft.plans.AsOf.join(facts, refs, "k", "T", Seq("v"))
      .collect()
    assert(rows.length == 1 && rows(0).getDouble(2) == 2.5)
  }

  test("left output passes through untouched (column pruning safe)") {
    val s = spark
    import s.implicits._
    val facts = Seq((1L, 10L, "keep", 7)).toDF("k", "t", "tag", "n")
    val refs = Seq((1L, 5L, 3.5)).toDF("k", "t", "v")
    val rows = AsOf.join(facts, refs, "k", "t", Seq("v")).collect()
    assert(rows.toSeq == Seq(Row(1L, 10L, "keep", 7, 3.5)))
  }
}
