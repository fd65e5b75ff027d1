package graft.plans

/** Dev probe for Volatile-set admissions: recomputes the named
  * queries' AQE-final fingerprints `reps` times in one session (each
  * call is an independent stage-reuse race) and prints the distinct
  * shapes observed — the 3-flip evidence the [[PlanFingerprints]]
  * Volatile set requires, without paying a full 263-query regen per
  * observation.
  *
  *   sbt "Test/runMain graft.plans.FingerprintProbe q145 6"
  */
object FingerprintProbe {
  def main(args: Array[String]): Unit = {
    val pats = args.filterNot(_.forall(_.isDigit)).toSeq
    val reps = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(4)
    val spark = graft.Sessions.checked("4")
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => pats.exists(n.contains)).foreach { name =>
        val shapes = (1 to reps).map { _ =>
          PlanFingerprints.fingerprint(
            graft.SparkEntry.queries(name)(spark, PlanFingerprints.SfDir))
        }
        val distinct = shapes.distinct
        println(s"$name: ${distinct.size} distinct shape(s) in $reps reps")
        distinct.foreach(s => println(
          s"  x${shapes.count(_ == s)}  $s"))
      }
    spark.stop()
  }
}
