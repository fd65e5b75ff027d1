package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The raw-SQL surface: tables registered by GraftSql are queryable
  * with plain spark.sql, including the injected native expressions. */
class SqlSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestSession.spark

  test("join + aggregate over registered views") {
    GraftSql.registerTables(spark, sf)
    val rows = spark.sql("""
      SELECT n.n_name, COUNT(*) AS n_customers,
             SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS total_bal
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name ORDER BY n_customers DESC""").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_customers")).sum ==
      spark.table("customer").count())
  }

  test("native extension expressions are callable from SQL") {
    GraftSql.registerTables(spark, sf)
    // strip_accents_native: injected scalar expression
    val r = spark.sql(
      "SELECT strip_accents_native('Café São') AS s").head()
    assert(r.getString(0) == "Cafe Sao")
    // simhash64_native over a real column's packed two-lane token
    // hashes (low lane shown single here — the kernel only reads bits)
    val n = spark.sql("""
      SELECT simhash64_native(transform(split(text, ' '), x ->
        (CAST(ascii(x) * 131 + length(x) AS BIGINT) * 2654435761)
          & 4294967295)) AS sh
      FROM documents""").filter("sh IS NOT NULL").count()
    assert(n == spark.table("documents").count())
  }

  test("fingerprint64/shingles3 natives are callable from SQL") {
    GraftSql.registerTables(spark, sf)
    // fingerprint64_native equals the composed two-lane fold for
    // every doc (lanes mod 2^31-1 / 2147483629, combined injectively)
    val fpMismatch = spark.sql(s"""
      SELECT count(*) FROM documents
      WHERE fingerprint64_native(text) <>
        aggregate(transform(split(text, ' '),
          t -> CAST(ascii(t) * 131 + length(t) AS BIGINT)),
          CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 2147483647)
          * 2147483629 +
        aggregate(transform(split(text, ' '),
          t -> CAST(ascii(t) * 131 + length(t) AS BIGINT)),
          CAST(0 AS BIGINT), (acc, x) -> (acc * 131 + x) % 2147483629)""")
      .head().getLong(0)
    assert(fpMismatch == 0L)
    // shingles3_native: |shingles| = max(tokens - 2, 0) for every doc
    val shMismatch = spark.sql("""
      SELECT count(*) FROM documents
      WHERE size(shingles3_native(text)) <>
            greatest(size(split(text, ' ')) - 2, 0)""")
      .head().getLong(0)
    assert(shMismatch == 0L)
  }

  test("dot_f32/l2sq natives are callable from SQL and consistent") {
    GraftSql.registerTables(spark, sf)
    // ||x||² ≥ 0 and l2sq(x, x) = 0 for every embedding
    val bad = spark.sql("""
      SELECT count(*) FROM embeddings
      WHERE dot_f32_native(embedding, embedding) < 0
         OR l2sq_native(embedding, embedding) <> 0.0""")
      .head().getLong(0)
    assert(bad == 0L)
    // cosine self-similarity is exactly 1 for non-zero vectors
    val cos = spark.sql("""
      SELECT dot_f32_native(embedding, embedding)
               / (sqrt(dot_f32_native(embedding, embedding))
                  * sqrt(dot_f32_native(embedding, embedding))) AS c
      FROM embeddings LIMIT 5""").collect()
    cos.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("bloom build + probe are callable from SQL (no false negatives)") {
    GraftSql.registerTables(spark, sf)
    spark.sql("""
      SELECT bloom_filter_agg(CAST(doc_id AS BIGINT)) AS bf
      FROM documents WHERE doc_id % 2 = 0""")
      .createOrReplaceTempView("docbloom")
    // every inserted key must probe true — blooms never false-negative
    val missed = spark.sql("""
      SELECT count(*) FROM documents
      WHERE doc_id % 2 = 0
        AND NOT bloom_might_contain((SELECT bf FROM docbloom),
                                    CAST(doc_id AS BIGINT))""")
      .head().getLong(0)
    assert(missed == 0L)
  }

  test("windowed event analytics in one SQL statement") {
    GraftSql.registerTables(spark, sf)
    val rows = spark.sql("""
      SELECT event_type, date_trunc('DAY', ts) AS day,
             COUNT(*) AS n,
             SUM(COUNT(*)) OVER (PARTITION BY event_type
               ORDER BY date_trunc('DAY', ts)) AS running_n
      FROM events GROUP BY 1, 2""").collect()
    assert(rows.nonEmpty)
  }
}
