/** Dev tool: dump formatted plans of representative queries to stdout
  * for pushdown/broadcast/codegen review. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.checked("4")
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q02_filter_project", "q03_join_agg", "q12_range_join")
    names.foreach { n =>
      println(s"########## $n")
      graft.SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
