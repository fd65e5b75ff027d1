package graft

import org.apache.spark.sql.SparkSession

/** Raw-SQL face of the engine: register every testdata table as a temp
  * view so the full surface — built-in operators AND the functions
  * `GraftExtensions` injects (every kernel of
  * `GraftExtensions.kernels`: `strip_accents_native`,
  * `parse_money_native`, `simhash64_native`, `fingerprint64_native`,
  * `shingles3_native`, `shinglesk_native(text, k)`, `minhash4_native`,
  * `winnow4_native`, `dot_f32_native`, `l2sq_native`,
  * `bpe_merge(syms, mx, my)`; plus `bloom_filter_agg` /
  * `bloom_might_contain`) — is reachable from `spark.sql(...)` with no
  * DataFrame code at all.
  *
  * At deployment scale the same names come from the real catalog
  * (`saveAsTable` / external metastore) and nothing else changes:
  * every `oracleSql` string in this repo is the DuckDB twin of a query
  * a user could submit here verbatim (modulo dialect built-ins).
  */
object GraftSql {
  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Registers all tables from `dir` as temp views named as in
    * TESTDATA.md (events through the nanos-safe reader). */
  def registerTables(spark: SparkSession, dir: String): Unit =
    TableNames.foreach {
      case "events" =>
        Tables.events(spark, dir).createOrReplaceTempView("events")
      case n =>
        Tables.t(spark, dir, n).createOrReplaceTempView(n)
    }
}
