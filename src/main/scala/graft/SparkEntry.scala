package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates the per-module query/oracle maps; every key present in
  * `queries` with a matching `oracleSql` entry is hash-checked against
  * DuckDB by the driver at sf0.01.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.q01AggPricing(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++ ops.ScalarParity.queries ++
      ops.WindowOps.queries ++ ops.TextOps.queries ++
      ops.DedupOps.queries ++ ops.VectorOps.queries ++
      ops.MartOps.queries ++ ops.MultiModal.queries ++
      ops.EventOps.queries ++ ops.ScaleOps.queries ++
      ops.DomainParity.queries ++ ops.CorpusOps.queries ++
      ops.Scd2.queries ++ ops.InsightOps.queries

  /** The registry names the dev-loop filter selects: every name
    * containing one of the comma-separated substrings in `only`
    * (`SPARK_GRAFT_ONLY` for Bench, Verify and ScaleRehearsal, the
    * arguments for Profile), sorted; all names when `only` is unset or
    * blank. Throws naming each substring that matches no query, so a
    * typo cannot pass for a clean, empty run. */
  def selectedNames(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[String] = {
    val all = queries.keys.toSeq.sorted
    val pats = only.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val unmatched = pats.filterNot(p => all.exists(_.contains(p)))
    require(unmatched.isEmpty,
      s"no query matches ${unmatched.map(p => s"'$p'").mkString(", ")}")
    if (pats.isEmpty) all else all.filter(n => pats.exists(n.contains))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracles ++ ops.ScalarParity.oracles ++
      ops.WindowOps.oracles ++ ops.TextOps.oracles ++
      ops.DedupOps.oracles ++ ops.VectorOps.oracles ++
      ops.MartOps.oracles ++ ops.MultiModal.oracles ++
      ops.EventOps.oracles ++ ops.ScaleOps.oracles ++
      ops.DomainParity.oracles ++ ops.CorpusOps.oracles ++
      ops.Scd2.oracles ++ ops.InsightOps.oracles
}
