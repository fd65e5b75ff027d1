package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.checked(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_ONLY=q53,q55 restricts the dump; the
    // driver leaves it unset and gets the full registry
    val keep = SparkEntry.selectedNames().toSet
    val selected = SparkEntry.queries
      .filter { case (name, _) => keep(name) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Compact status as the LAST stdout line (same rationale as
    // Bench's compact line — the driver's tail capture is ~2000
    // chars): how many dumps landed vs were attempted, so a
    // tail-reading harness can tell "Verify ran clean" apart from
    // "Verify died mid-dump" without parsing the output dir.
    val dumped = selected.keys.count(n =>
      Files.exists(Paths.get(s"$outDir/$n/_SUCCESS")))
    println(s"""{"verify_attempted":${selected.size},""" +
      s""""verify_dumped":$dumped,""" +
      s""""oracle_entries":${SparkEntry.oracleSql.count(e => keep(e._1))},""" +
      s""""out_dir":${q(outDir)},"sf":${q(sfDir)}}""")
    spark.stop()
  }
}
