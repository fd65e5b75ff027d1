package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SCD2 merge semantics the oracle data can't exercise: null-safe
  * attribute comparison and key disappearance. */
class Scd2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("seg"),
      r.getAs[String]("valid_from"), r.getAs[String]("valid_to"))).toSet

  test("null attrs compare null-safely; vanished keys close") {
    val s = spark
    import s.implicits._
    val current = Seq(
      // open, attr NULL — snapshot also NULL → must STAY open
      (1L, null.asInstanceOf[String], "2023-01-01",
        null.asInstanceOf[String]),
      // open, attr A — snapshot NULL → close + reinsert NULL
      (2L, "A", "2023-01-01", null.asInstanceOf[String]),
      // open, attr B — key vanished from snapshot → close, no insert
      (3L, "B", "2023-01-01", null.asInstanceOf[String]))
      .toDF("k", "seg", "valid_from", "valid_to")
    val incoming = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String]),
      // brand-new key → fresh open row
      (4L, "D")).toDF("k", "seg")
    val out = Scd2.merge(current, incoming, "k", Seq("seg"), "2024-06-01")
    assert(rows(out) == Set(
      (1L, null, "2023-01-01", null),          // untouched open
      (2L, "A", "2023-01-01", "2024-06-01"),   // closed
      (2L, null, "2024-06-01", null),          // reinserted
      (3L, "B", "2023-01-01", "2024-06-01"),   // vanished → closed
      (4L, "D", "2024-06-01", null)))          // new key
  }

  test("NULL business keys are a key value, never silently dropped") {
    val s = spark
    import s.implicits._
    val current = Seq(
      (Option.empty[Long], "A", "2023-01-01",
        null.asInstanceOf[String]))
      .toDF("k", "seg", "valid_from", "valid_to")
    val incoming = Seq((Option.empty[Long], "B")).toDF("k", "seg")
    val out = Scd2.merge(current, incoming, "k", Seq("seg"), "2024-06-01")
      .collect()
      .map(r => (Option(r.getAs[java.lang.Long]("k")).map(_.toLong),
        r.getAs[String]("seg"), r.getAs[String]("valid_to"))).toSet
    // NULL key matched NULL key (null-safe): A closed, B opened
    assert(out == Set(
      (None, "A", "2024-06-01"),
      (None, "B", null)))
  }

  test("empty tracked list = key-presence-only SCD2") {
    val s = spark
    import s.implicits._
    val current = Seq((1L, "2023-01-01", null.asInstanceOf[String]),
      (2L, "2023-01-01", null.asInstanceOf[String]))
      .toDF("k", "valid_from", "valid_to")
    val incoming = Seq(Tuple1(1L), Tuple1(3L)).toDF("k")
    val out = Scd2.merge(current, incoming, "k", Seq(), "2024-06-01")
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("valid_to"))).toSet
    // 1 stays open, 2 closes, 3 inserts
    assert(out == Set((1L, null), (2L, "2024-06-01"), (3L, null)))
  }

  test("every key has at most one open row after the merge") {
    val s = spark
    import s.implicits._
    val current = Seq(
      (1L, "A", "2020-01-01", "2023-01-01"),   // closed history
      (1L, "B", "2023-01-01", null.asInstanceOf[String]))
      .toDF("k", "seg", "valid_from", "valid_to")
    val incoming = Seq((1L, "C")).toDF("k", "seg")
    val out = Scd2.merge(current, incoming, "k", Seq("seg"), "2024-06-01")
    assert(out.count() == 3) // closed + newly-closed B + open C
    assert(out.filter("valid_to IS NULL").count() == 1)
    assert(rows(out).contains((1L, "C", "2024-06-01", null)))
  }
}
