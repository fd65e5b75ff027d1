package perfbench

import java.nio.file.{Files, Path}

/** Read-only registry queries over a generated warehouse, one at a
  * time, each checked against its recorded (rows, hash). Each pass
  * runs the whole list in an order shuffled from the seed. */
final class AnalystQueries(scale: String, expectedFile: Option[String],
                           dumpDir: Option[String]) extends Workload {
  import AnalystQueries._
  val name = "analyst_queries"
  private var dir: String = _
  private var expected: Map[String, (Long, String)] = Map.empty
  private var passNo = 0
  private val recorded = scala.collection.mutable.ArrayBuffer.empty[String]

  def unitsPerPass: Long = List.size.toLong
  override def minPasses: Int = 3

  def prepare(work: Path, seed: Long): Unit = {
    val d = work.resolve(s"warehouse-$scale")
    require(Files.exists(d.resolve("lineitem.parquet")), s"no warehouse $d")
    dir = d.toString
    expected = expectedFile.map(java.nio.file.Paths.get(_))
      .filter(Files.exists(_)).map(Expected.read).getOrElse(Map.empty)
  }

  def inputSizes: Map[String, Double] = Map(
    "queries" -> List.size.toDouble,
    "warehouse_bytes" -> Files2.treeBytes(java.nio.file.Paths.get(dir))
      .toDouble)

  def pass(ctx: Ctx): Unit = {
    val rnd = new scala.util.Random(ctx.seed * 1000003L + passNo)
    passNo += 1
    for (q <- rnd.shuffle(List)) {
      val fn = Registry.query(q)
      ctx.op(q, s"ops.${Registry.module(q)}") {
        val df0 = fn(ctx.spark, dir)
        // --corrupt: the first query's output loses its rows
        val df = if (ctx.corrupt && q == List.head) df0.limit(0) else df0
        val (rows, h) = Canon.hash(df)
        dumpDir match {
          case Some(d) if passNo == 1 =>
            recorded += s"$q $rows $h"
            df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q")
          case _ =>
            val (er, eh) = expected.getOrElse(q,
              throw new CheckFailed("no expected output recorded"))
            ctx.check(rows == er && h == eh,
              s"got rows=$rows hash=$h, expected rows=$er hash=$eh")
        }
      }
    }
    for (d <- dumpDir if passNo == 1) {
      val oracle = List.map(q => Json.str(q) + ":" +
        Json.str(graft.SparkEntry.oracleSql(q)))
      Files.writeString(java.nio.file.Paths.get(d, "oracle_sql.json"),
        oracle.mkString("{", ",\n", "}\n"))
      Files.writeString(java.nio.file.Paths.get(d, "expected.txt"),
        recorded.sorted.mkString("", "\n", "\n"))
    }
  }

  override def layerMetrics(ctx: Ctx, passes: Int): Map[String, Double] = {
    val self = ctx.trace.selfSecondsByLayer
    val byName = ctx.trace.spans.toArray(Array.empty[Span])
      .groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds).sum }
    self.collect { case (l, s) if l.startsWith("ops.") =>
      s"${l}_s" -> s / passes } ++ Map(
      "plans.asof_s" -> (byName.getOrElse("q97_asof_native", 0.0) -
        byName.getOrElse("q94_asof_join", 0.0)) / passes)
  }
}

object AnalystQueries {
  /** Read-only queries, at least one from each analytical module, with
    * both as-of join spellings (q94 DataFrame, q97 plan node). Queries
    * whose cold first run takes over ~1 s are left out: the warm-up
    * pass is paid in every run. */
  val List: Seq[String] = Seq(
    "q01_agg_pricing", "q41_gap_fill", "q94_asof_join", "q97_asof_native",
    "q185_rfm_segments", "q70_dynamic_pivot", "q20_parse_money_col",
    "q27_transfer_bucket", "q32_header_table")
}
