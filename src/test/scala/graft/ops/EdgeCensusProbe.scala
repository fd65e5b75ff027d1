package graft.ops

import org.apache.spark.sql.functions._

/** One-shot diagnostic for the ×1024 q98 residue: counts the three
  * union-of-evidence edge sources (simhash cluster edges, jaccard
  * pairs, embedding cosine near-dups) per amplification, so the
  * SCALE_r09_deep stage decomposition's "edge checkpoints grew ≫4×"
  * finding can be attributed to a SPECIFIC lane. Run:
  *   sbt "Test/runMain graft.EdgeCensusProbe [amps]"
  */
object EdgeCensusProbe {
  def main(args: Array[String]): Unit = {
    val amps = args.lift(0).getOrElse("64,256,1024")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.Sessions.checked("32")
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_SCALE_SKEW reads the skew-profile dirs and also
    // counts the k-NN capped lane (q276's) next to the ε lane (q98's)
    // — the edge-volume contrast the dup-family knob exists to show
    val skew = sys.env.contains("SPARK_GRAFT_SCALE_SKEW")
    for (a <- amps) {
      val d = if (skew) s"target/scale/skew-x$a" else s"target/scale/x$a"
      val shared = DedupOps.sharedTextSignals(spark, d)
      val sim = DedupOps
        .simhashClusterEdges(DedupOps.simhashFrom(shared)).count()
      val jac = DedupOps.jaccardFrom(shared).count()
      val emb = VectorOps.q64CosineNearDup(spark, d).count()
      val knn = VectorOps.knnEdges(spark, d).count()
      println(s"[edges] x$a sim=$sim jac=$jac emb=$emb knn=$knn")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }
    spark.stop()
  }
}
