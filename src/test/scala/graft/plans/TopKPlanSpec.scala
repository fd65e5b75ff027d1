package graft.plans

import graft.TestSession.withConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** The custom top-k-per-group operator: result parity with the window
  * spelling, the two-phase plan shape, and edge semantics. */
class TopKPlanSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.TestSession.spark
  private val Rewrite = "spark.graft.topk.rewrite"

  private def docs = graft.Tables.documents(spark, sf)
    .select(col("doc_id"), col("lang"), col("n_chars"))

  test("matches the row_number window spelling exactly") {
    val ours = TopK.perGroup(docs, Seq("lang"),
      Seq(("n_chars", true), ("doc_id", false)), 3)
      .select("lang", "doc_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val ref = docs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("lang", "doc_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(ours == ref, s"ours=$ours ref=$ref")
  }

  test("plans partial below the exchange, final above it") {
    val df = TopK.perGroup(docs, Seq("lang"),
      Seq(("n_chars", true), ("doc_id", false)), 3)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    val iFinal = p.indexOf("TopKFinal")
    val iEx = p.indexOf("Exchange hashpartitioning")
    val iPartial = p.indexOf("TopKPartial")
    assert(iFinal >= 0 && iEx >= 0 && iPartial >= 0, p.take(2000))
    // plans print top-down: final consumes the exchange fed by partial
    assert(iFinal < iEx && iEx < iPartial, p.take(2000))
    // and no full-partition sort anywhere — that is the point
    assert(!p.contains("Sort "), p.take(2000))
  }

  test("k >= group size returns whole groups, fully ranked") {
    val langs = docs.select("lang").distinct().count()
    val all = TopK.perGroup(docs, Seq("lang"),
      Seq(("n_chars", true), ("doc_id", false)), 1000000)
    assert(all.count() == docs.count())
    assert(all.filter(col("rank") === 1).count() == langs)
  }

  test("optimizer rewrite plans the heap operator for window top-k SQL") {
    withConf(Rewrite -> "true") {
      graft.GraftSql.registerTables(spark, sf)
      val sql = """
        SELECT lang, doc_id, rn FROM (
          SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
            ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM documents)
        WHERE rn <= 3"""
      val df = spark.sql(sql)
      df.write.format("noop").mode("overwrite").save()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TopKFinal"), p.take(2000))
      assert(!p.contains("Window"), p.take(2000))
      val rewritten = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val plain = withConf(Rewrite -> "false") {
        spark.sql(sql).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      }
      assert(rewritten == plain)
    }
  }

  test("rewrite leaves non-row_number and compound filters alone") {
    withConf(Rewrite -> "true") {
      graft.GraftSql.registerTables(spark, sf)
      // rank() is not row_number (ties share ranks) — must keep Window
      val rankDf = spark.sql("""
        SELECT * FROM (
          SELECT lang, doc_id, rank() OVER (PARTITION BY lang
            ORDER BY n_chars DESC) AS rn
          FROM documents)
        WHERE rn <= 3""")
      assert(rankDf.queryExecution.optimizedPlan.toString
        .contains("windowspecdefinition"),
        rankDf.queryExecution.optimizedPlan.toString.take(1500))
      // a compound predicate is not a pure bound — must keep Window
      val compound = spark.sql("""
        SELECT * FROM (
          SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
            ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM documents)
        WHERE rn <= 3 AND doc_id > 10""")
      assert(compound.queryExecution.optimizedPlan.toString
        .contains("windowspecdefinition"),
        compound.queryExecution.optimizedPlan.toString.take(1500))
    }
  }

  test("rewrite fires through a renamed rank; declines a recomputed one") {
    withConf(Rewrite -> "true") {
      graft.GraftSql.registerTables(spark, sf)
      // rn renamed to rank, plus a computed passenger column — both
      // flow through one collapsed Project; the rewrite must fire and
      // keep results identical to the window spelling
      val sql = """
        SELECT lang, doc_id, n_chars * 2 AS twice, rank FROM (
          SELECT lang, doc_id, n_chars, row_number() OVER (
            PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rank
          FROM documents)
        WHERE rank <= 3"""
      val df = spark.sql(sql)
      df.write.format("noop").mode("overwrite").save()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TopKFinal"), p.take(2000))
      assert(!p.contains("Window"), p.take(2000))
      val rewritten = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSet
      val plain = withConf(Rewrite -> "false") {
        spark.sql(sql).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getInt(3))).toSet
      }
      assert(rewritten == plain)
      // a RECOMPUTED rank (rn + 1) bounds something else — keep Window
      val recomputed = spark.sql("""
        SELECT lang, doc_id, rank FROM (
          SELECT lang, doc_id, rn + 1 AS rank FROM (
            SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
              ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM documents))
        WHERE rank <= 3""")
      assert(recomputed.queryExecution.optimizedPlan.toString
        .contains("windowspecdefinition"),
        recomputed.queryExecution.optimizedPlan.toString.take(1500))
    }
  }

  test("GLOBAL top-k (no group keys) plans AllTuples, not a crash") {
    val ours = TopK.perGroup(docs, Seq(),
      Seq(("n_chars", true), ("doc_id", false)), 5)
      .select("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.orderBy(col("n_chars").desc, col("doc_id").asc)
    val ref = docs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ours == ref)
    // and via the rewrite — the no-PARTITION-BY SQL idiom
    withConf(Rewrite -> "true") {
      graft.GraftSql.registerTables(spark, sf)
      val df = spark.sql("""
        SELECT doc_id, rn FROM (
          SELECT doc_id, row_number() OVER (
            ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM documents)
        WHERE rn <= 5""")
      assert(df.collect().map(r => (r.getLong(0), r.getInt(1).toLong))
        .toSet == ref)
      assert(df.queryExecution.executedPlan.toString
        .contains("TopKFinal"))
    }
  }

  test("ascending order and multi-column groups work") {
    val ours = TopK.perGroup(docs.withColumn("b", col("doc_id") % 2),
      Seq("lang", "b"), Seq(("n_chars", false), ("doc_id", false)), 2)
      .select("lang", "b", "doc_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val w = Window.partitionBy(col("lang"), col("b"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val ref = docs.withColumn("b", col("doc_id") % 2)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select("lang", "b", "doc_id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(ours == ref)
  }
}
