package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Near-duplicate detection for the training-data pipeline:
  * MinHash signatures, LSH banding, n-gram (shingle) Jaccard, and
  * SimHash — all over the `documents` table.
  *
  * Scale design: signatures are computed per-row inside codegen'd
  * higher-order array expressions (no UDF, no shuffle); pair
  * generation goes through an inverted index on shingles / LSH
  * buckets (shuffle keyed on the shingle or bucket, never a full
  * cross join), which is the standard 100 TB-safe layout.
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  private val P = 1000000007L

  /** Adds `shs` (token-3-gram shingle hashes, mod-reduced per combine
    * so a*x in MinHash never overflows Int64 even for high code
    * points) via the native one-pass `shingles3_native` kernel. */
  private[graft] def withShingles(df: DataFrame): DataFrame =
    df.withColumn("shs", call_function("shingles3_native", col("text")))

  /** The composed spelling of [[withShingles]] — kept as the parity
    * witness the native one-pass kernel is property-tested against.
    * zip_with over slices, NOT element_at(th, i) in a lambda: a lambda
    * body referencing a derived column re-inlines its whole expression
    * per ELEMENT after projection collapse (O(tokens²) interpreted
    * evals/row); slice() arguments evaluate once per row. */
  private[graft] def withShinglesComposed(df: DataFrame): DataFrame = df
    .withColumn("th", expr(
      "transform(split(text, ' '), x -> CAST(ascii(x) * 131 + length(x) AS BIGINT))"))
    .withColumn("shs", expr(
      s"""zip_with(
           zip_with(slice(th, 1, greatest(size(th) - 2, 0)),
                    slice(th, 2, greatest(size(th) - 2, 0)),
                    (a, b) -> (a * 100003 + b) % $P),
           slice(th, 3, greatest(size(th) - 2, 0)),
           (ab, c) -> (ab * 100003 + c) % $P)"""))
  /** DuckDB twin of [[withShingles]]. */
  private[ops] val shinglesSql: String = {
    // greatest(unicode,0): DuckDB unicode('') is -1, Spark ascii('') is 0
    def h(i: String) =
      s"CAST(greatest(unicode(t[$i]), 0) * 131 + length(t[$i]) AS BIGINT)"
    s"""list_transform(generate_series(1, len(t) - 2), i ->
          (((${h("i")}) * 100003 + (${h("i+1")})) % $P * 100003 + (${h("i+2")})) % $P)"""
  }

  /** ONE scan + tokenize of the corpus materializing BOTH text-signal
    * inputs — the shingle array (`shs`, Jaccard's) and the token-hash
    * array (`thm`, SimHash's) — for composites that consume several
    * edge sources (q98, q147). At 100 TB this is the "persist the
    * shingle table once, build every index off it" layout; without it
    * each signal re-reads and re-tokenizes the full corpus. */
  private[ops] def sharedTextSignals(s: SparkSession, d: String)
      : DataFrame =
    withTokenHashes(withShingles(Tables.documents(s, d)))
      .select(col("doc_id"), col("shs"), col("thm"))
      .localCheckpoint(eager = false)

  /** In-row unordered-pair generation over a SORTED array column:
    * for every i < j the expression emits `body`, with
    * `element_at(<arr>, i)` as the left element and lambda variable
    * `x` as the right. The 1-based element_at / slice arithmetic is
    * subtle and used to be copy-pasted per query — this ONE spelling
    * now serves every posting-list pair path (q58, q60, q156, q157,
    * q167, q170, q174); callers wrap it in explode()/filter() as
    * their shape needs. */
  /** Whole-stage-codegen pair generation: every i<j pair of the
    * (sorted) array column `arr` as bound columns `__pa`/`__pb` —
    * the DataFrame-level successor of [[pairGenExpr]] for the
    * explode() call sites. Two chained position explodes +
    * element_at stay entirely in generated code (no interpreted
    * lambdas, no per-pair struct allocs, no slice copies) and emit
    * the IDENTICAL row multiset: rows with size(arr) < 2 emit
    * nothing, exactly like an exploded pairGenExpr. `keep` columns
    * ride along; callers project/rename (`__pa`/`__pb` are structs
    * when `arr` holds structs). Both sequence() calls are
    * ascending-safe under the size ≥ 2 filter. */
  private[graft] def pairExplode(df: DataFrame, arr: String,
      keep: Seq[String] = Nil): DataFrame = {
    val ks = keep.map(col)
    df.filter(size(col(arr)) >= 2)
      .select(ks :+ col(arr)
        :+ explode(expr(s"sequence(1, size($arr) - 1)")).as("__pi"): _*)
      .select(ks :+ col(arr) :+ col("__pi")
        :+ explode(expr(s"sequence(__pi + 1, size($arr))")).as("__pj"): _*)
      .withColumn("__pa", element_at(col(arr), col("__pi")))
      .withColumn("__pb", element_at(col(arr), col("__pj")))
  }

  private[graft] def pairGenExpr(arr: String, body: String): String =
    // TOTAL on any array: sequence(a, b) counts DOWN when b < a, so a
    // size-0/1 input would iterate i ∈ {1, 0[, -1]} and evaluate
    // element_at(…, 0) — a runtime error. greatest() pins the outer
    // range to [1,1] and empties the inner slice instead (same
    // guard idiom as withShingles); size ≥ 2 inputs are unchanged.
    s"""flatten(transform(sequence(1, greatest(size($arr) - 1, 1)),
          i -> transform(slice($arr, i + 1, greatest(size($arr) - i, 0)),
            x -> $body)))"""

  /** Max members for which an identical-signature group expands its
    * C(m,2) pairs IN-ROW via [[pairGenExpr]]. In-row generation
    * materializes the whole pair array in one row before the explode,
    * so a boilerplate-grade group (the scale rehearsal measured a
    * 25k-member simhash clique on an amplified corpus → C(m,2) ≈
    * 3·10⁸ structs in ONE row) is an executor OOM at ANY cluster
    * size. Above this bound [[withinPairs]] switches to a member-ROW
    * self-join on the signature, where the quadratic OUTPUT streams
    * through the join iterator (SMJ buffers spill to disk) instead of
    * materializing. C(1000,2) ≈ 5·10⁵ structs ≈ 8 MB — comfortably
    * in-row. */
  private[graft] val InRowPairMembers = 1000

  /** Unordered member pairs (doc_a < doc_b) of identical-signature
    * groups, memory-safe at any group size: bounded groups expand
    * in-row (one pass, zero extra shuffle — the common case); larger
    * groups take the self-join lane above. `groups` must carry the
    * key columns plus a SORTED `ids` array; the two lanes partition
    * the groups, so the union is duplicate-free. */
  private[ops] def withinPairs(groups: DataFrame,
                               keyCols: Seq[String]): DataFrame = {
    val inRow = pairExplode(
        groups.filter(size(col("ids")).between(2, InRowPairMembers)),
        "ids")
      .select(col("__pa").as("doc_a"), col("__pb").as("doc_b"))
    val giant = groups.filter(size(col("ids")) > InRowPairMembers)
      .select(keyCols.map(col) :+ explode(col("ids")).as("doc_a"): _*)
    val joined = giant
      .join(giant.withColumnRenamed("doc_a", "doc_b"), keyCols)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    inRow.unionByName(joined)
  }

  // ------------------------------------------------------------ MinHash
  /** MinHash signature: 4 independent hash functions (a*x+b mod p) over
    * the shingle set; per-doc minimum each. The standard Broder
    * construction used by every large-scale corpus dedup. */
  private val ab = Seq((37L, 17L), (101L, 89L), (8191L, 131L), (577L, 7L))

  /** Signature derivation from an already-shingled frame — split out
    * so composites (q107) can share ONE shingle materialization
    * between the signature and pair paths. */
  private[graft] def minhashFrom(base: DataFrame): DataFrame = {
    // native one-pass kernel: all four lane minima in a single walk of
    // the shingle array (the composed 4× array_min(transform(...))
    // spelling below re-walks it per lane, interpreted)
    base
      .withColumn("mh", call_function("minhash4_native", col("shs")))
      .select(col("doc_id"), col("mh").getItem(0).as("mh0"),
        col("mh").getItem(1).as("mh1"), col("mh").getItem(2).as("mh2"),
        col("mh").getItem(3).as("mh3"))
  }

  /** The composed spelling of [[minhashFrom]] — the parity witness the
    * native kernel is property-tested against. */
  private[graft] def minhashFromComposed(base: DataFrame): DataFrame = {
    val s = ab.zipWithIndex.foldLeft(base) { case (df, ((a, b), j)) =>
      df.withColumn(s"mh$j",
        expr(s"array_min(transform(shs, x -> ($a * x + $b) % $P))"))
    }
    s.select(col("doc_id"), col("mh0"), col("mh1"), col("mh2"), col("mh3"))
  }

  val q56MinHash: Q = (s, d) =>
    minhashFrom(withShingles(Tables.documents(s, d)))

  /** Band view of a 4-lane signature frame: (doc_id, band, h1, h2)
    * with band 0 = (mh0, mh1) and band 1 = (mh2, mh3) — THE banding
    * layout, defined once for every doc-level band consumer (q57,
    * q216); q157's group-level variant mirrors the same lane-to-band
    * assignment over pre-collapsed signature groups. */
  private def bandsFrom(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), expr(
      "explode(array(named_struct('band', 0, 'h1', mh0, 'h2', mh1), " +
        "named_struct('band', 1, 'h1', mh2, 'h2', mh3))) AS b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.h1"), col("b.h2"))

  /** DuckDB MinHash-signature derivation over any doc-bearing
    * relation — ONE spelling serving o56/o216/o220 (the lane
    * constants live in [[ab]] only). */
  private def sigSqlOver(src: String): String = {
    val mhs = ab.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(shs, x -> ($a * x + $b) % $P)) AS mh$j"
    }.mkString(",\n        ")
    s"""
    SELECT doc_id, $mhs
    FROM (SELECT doc_id, $shinglesSql AS shs
          FROM (SELECT doc_id, string_split(text, ' ') AS t
                FROM $src))"""
  }
  val o56: String = sigSqlOver("documents")

  // ---------------------------------------------------------------- LSH
  /** LSH banding over the MinHash signature: 2 bands × 2 rows; docs
    * agreeing on a whole band are candidates. Emitted as a per-band
    * bucket census (bucket key, size, candidate pairs C(n,2)) — the
    * shuffle-friendly shape; q58 materializes verified pairs. */
  val q57LshBuckets: Q = (s, d) => {
    import s.implicits._
    bandsFrom(q56MinHash(s, d))
      .groupBy($"band", $"h1", $"h2")
      .agg(count(lit(1)).as("bucket_size"))
      .filter($"bucket_size" > 1)
      .groupBy($"band")
      .agg(count(lit(1)).as("n_buckets"),
        sum($"bucket_size" * ($"bucket_size" - 1) / 2)
          .cast("long").as("n_candidate_pairs"))
  }
  val o57: String = s"""
    WITH sig AS (${o56}),
    bands AS (
      SELECT doc_id, 0 AS band, mh0 AS h1, mh1 AS h2 FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, mh2 AS h1, mh3 AS h2 FROM sig),
    buckets AS (
      SELECT band, h1, h2, COUNT(*) AS bucket_size
      FROM bands GROUP BY 1, 2, 3 HAVING COUNT(*) > 1)
    SELECT band, COUNT(*) AS n_buckets,
           CAST(SUM(bucket_size * (bucket_size - 1) / 2) AS BIGINT)
             AS n_candidate_pairs
    FROM buckets GROUP BY band"""

  // ------------------------------------------------------------ Jaccard
  /** Document-frequency cap for the inverted shingle index: a shingle
    * held by k docs produces C(k,2) self-join rows, so one boilerplate
    * "stop-shingle" at corpus scale is a hot key that dwarfs the whole
    * shuffle. Shingles with df > cap carry no near-dup signal anyway
    * (they are corpus-wide noise) — dropping them from the shingle
    * SETS (sizes and intersections alike) is standard corpus-dedup
    * practice and bounds the self-join input per shingle. */
  private val MaxShingleDf = 100

  /** Verified-pair rows above which q107 stops forcing a broadcast
    * (~50 B/row → ≤ ~50 MB broadcast at the cap) and lets the pair
    * set shuffle-join instead. */
  private val MaxBroadcastPairs = 1000000L

  /** n-gram Jaccard near-dup pairs via a df-capped inverted shingle
    * index: only pairs sharing ≥1 surviving shingle are compared (no
    * cross join, no uncapped posting lists);
    * J = |A∩B| / |A∪B| over distinct df-capped shingles, threshold
    * 0.5. Sizes are computed AFTER the cap so the Jaccard denominator
    * and numerator see the same sets.
    *
    * Layout: ONE shingle-keyed shuffle builds the posting lists
    * (`collect_list` per shingle, df cap as a size filter on the
    * aggregated row), and candidate pairs are generated IN-ROW from
    * each posting list — ≤ C(cap,2) structs per shingle, all codegen'd
    * array expressions. This replaces the earlier posting-list hash
    * SELF-join: the tokenize+shingle+explode subtree now feeds a
    * single exchange that both consumers (pair generation, per-doc
    * size census) reuse, and no join build side ever materializes.
    * The df=1 shingles stay in the size census (they are part of the
    * Jaccard denominator) but never reach pair generation. */
  val q58JaccardPairs: Q = (s, d) =>
    jaccardFrom(withShingles(Tables.documents(s, d)))

  /** q58's full derivation over an ARBITRARY (doc_id, text) frame —
    * for callers that augment the corpus before pairing (q255's
    * lang-rotated replays). [[o58Over]] is the SQL twin. */
  private[graft] def jaccardPairsOver(docs: DataFrame): DataFrame =
    jaccardFrom(withShingles(docs))

  /** Posting-list pair census over (doc_id, key) rows — q58's layout,
    * shared by q58, q174 and q208: per candidate pair (doc_a < doc_b)
    * the shared-key count `i` and both docs' key counts `na`/`nb`,
    * all counted over df-capped keys so both sides of a ratio see
    * the same sets. */
  private def postingPairs(docKeys: DataFrame): DataFrame = {
    val s = docKeys.sparkSession
    import s.implicits._
    // one exchange on the key: df cap = size filter on the aggregated
    // posting list (the hot key skews no join — its oversized row is
    // dropped right after the aggregate)
    val postings = docKeys.groupBy(col(docKeys.columns(1)))
      .agg(collect_list($"doc_id").as("docs"))
      .filter(size($"docs") <= MaxShingleDf)
      // two consumers (size census + pair generation): ReuseExchange
      // dedupes the shuffle but the collect_list FINAL aggregate — the
      // expensive half — re-ran per consumer
      .localCheckpoint(eager = false)
    val sizes = postings
      .select(explode($"docs").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // in-row pair generation over the SORTED posting list: i<j gives
    // doc_a < doc_b directly (collect_list order is nondeterministic,
    // the sort makes the emitted pairs engine-stable). Two chained
    // position explodes + element_at, NOT the flatten(transform(...))
    // pairGenExpr spelling: both Generates and the projection stay in
    // whole-stage codegen (no interpreted lambdas, no per-pair struct
    // allocs, no slice copies), emitting the identical pair multiset.
    // size ≥ 2 makes both sequence() calls ascending-safe.
    pairExplode(postings.withColumn("ds", sort_array($"docs")), "ds")
      .select($"__pa".as("doc_a"), $"__pb".as("doc_b"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("i"))
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("na")), Seq("doc_a"))
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("nb")), Seq("doc_b"))
  }

  /** Pair derivation from an already-shingled frame (see
    * [[minhashFrom]]). `minJ` is the report threshold — q58 and every
    * near-dup consumer keep the 0.5 default; q266 lowers it to 0.0 to
    * observe the FULL candidate-pair similarity population (the
    * operating-point sweep needs the below-threshold mass too; the
    * candidate set stays df-cap bounded either way). */
  private[ops] def jaccardFrom(base: DataFrame,
                               minJ: Double = 0.5): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    postingPairs(base
      .select($"doc_id", explode(array_distinct($"shs")).as("sh")))
      .withColumn("jaccard",
        $"i".cast("double") / ($"na" + $"nb" - $"i").cast("double"))
      .filter($"jaccard" >= minJ)
      .select($"doc_a", $"doc_b", $"jaccard")
  }
  /** o58 parameterized on its corpus relation (a table or CTE name
    * with doc_id + text) — SQL twin of [[jaccardPairsOver]]. Callers
    * embedding it as a CTE body must not name their own CTEs
    * sh0/kept/sh/sizes/inter (the DuckDB nested-WITH collision rule). */
  private[graft] def o58Over(src: String,
                             minJ: String = "0.5"): String = s"""
    WITH sh0 AS (
      SELECT DISTINCT doc_id, unnest(shs) AS sh
      FROM (SELECT doc_id, $shinglesSql AS shs
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $src))),
    kept AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= $MaxShingleDf),
    sh AS (SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN kept USING (sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
      CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= $minJ"""

  val o58: String = o58Over("documents")

  // ------------------------------------------- containment pairs
  /** Shingle-set CONTAINMENT pairs (Broder's C(A,B) = |A∩B| / |A|,
    * reported for the smaller set of each pair): detects a document
    * embedded ANYWHERE inside another — quote inclusion, article +
    * wrapper-page, mid-stream truncation. Jaccard misses these (a
    * half-length containment sits at J ≈ 0.5, at/below threshold) and
    * q167's prefix detector only catches the position-zero case; the
    * asymmetric denominator is exactly what changes.
    *
    * The corpus has no natural containments beyond its full near-dups,
    * so the input unions a half-length replayed slice (mod 31 — the
    * q55 non-vacuity recipe, mirrored in the oracle): those pairs land
    * at C ≈ 1.0 while their Jaccard stays ≈ 0.5.
    *
    * 100 TB design: identical layout to q58 — ONE shingle-keyed
    * exchange, df-capped posting lists, in-row pair generation; only
    * the final scoring expression differs (i / min(na, nb)). */
  val q174ContainmentPairs: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", $"source", $"text", $"n_chars")
    val replay = base.filter($"doc_id" % 31 === 0 && $"n_chars" >= 80)
      .withColumn("doc_id", $"doc_id" + lit(4L << 40))
      .withColumn("text",
        expr("substring(text, 1, CAST(n_chars DIV 2 AS INT))"))
    postingPairs(withShingles(base.unionByName(replay))
        .select($"doc_id", explode(array_distinct($"shs")).as("sh")))
      .withColumn("containment",
        $"i".cast("double") / least($"na", $"nb").cast("double"))
      .filter($"containment" >= 0.9)
      .withColumn("inner_id",
        when($"na" <= $"nb", $"doc_a").otherwise($"doc_b"))
      .withColumn("outer_id",
        when($"na" <= $"nb", $"doc_b").otherwise($"doc_a"))
      .select($"inner_id", $"outer_id", $"containment")
  }
  val o174: String = s"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 4398046511104 AS doc_id,
        substring(text, 1, CAST(n_chars // 2 AS INT)) AS text
      FROM documents WHERE doc_id % 31 = 0 AND n_chars >= 80),
    sh0 AS (
      SELECT DISTINCT doc_id, unnest(shs) AS sh
      FROM (SELECT doc_id, $shinglesSql AS shs
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM docs))),
    kept AS (SELECT sh FROM sh0 GROUP BY sh
             HAVING COUNT(*) <= $MaxShingleDf),
    sh AS (SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN kept USING (sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT doc_a, doc_b, sa.n AS na, sb.n AS nb,
        CAST(i AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)
          AS containment
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)
    SELECT
      CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS inner_id,
      CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS outer_id,
      containment
    FROM scored WHERE containment >= 0.9"""

  // ------------------------------------------- sparse cosine pairs
  /** Term-weighted cosine similarity join over sparse TF vectors via
    * a df-capped inverted TERM index — the weighted counterpart of
    * q58's set-based Jaccard: repeated terms count (tf products in
    * the dot), not just membership. This is the classic sparse-vector
    * similarity join (the non-embedding half of near-dup detection).
    *
    * Float parity: dot and both squared norms are EXACT integer sums
    * (tf products); the only floating point is the final
    * dot / (√na²·√nb²), every operation of which is IEEE
    * correctly-rounded from identical integer inputs — bit-equal
    * across engines with zero fixed-point scaffolding.
    *
    * 100 TB design: the q58 posting-list layout — term-df cap bounds
    * every posting list, pair generation happens in-row over the
    * sorted (doc, tf) list, ONE term-keyed exchange, and the norm
    * census reuses the same exchange's output. No self-join. */
  private val MaxTermDf = 100

  val q170CosinePairs: Q = (s, d) => {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    val postings = tf.groupBy($"term")
      .agg(sort_array(collect_list(struct($"doc_id", $"tf"))).as("ds"))
      .filter(size($"ds") <= MaxTermDf)
    val norms = postings
      .select(explode($"ds").as("e"))
      .groupBy($"e.doc_id".as("doc_id"))
      .agg(sum($"e.tf" * $"e.tf").as("n2"))
    val dots = pairExplode(postings, "ds")
      .select($"__pa.doc_id".as("doc_a"), $"__pb.doc_id".as("doc_b"),
        ($"__pa.tf" * $"__pb.tf").as("prod"))
      .groupBy($"doc_a", $"doc_b")
      .agg(sum($"prod").as("dot"))
    dots
      .join(norms.select($"doc_id".as("doc_a"), $"n2".as("na2")),
        Seq("doc_a"))
      .join(norms.select($"doc_id".as("doc_b"), $"n2".as("nb2")),
        Seq("doc_b"))
      .withColumn("cosine", $"dot".cast("double") /
        (sqrt($"na2".cast("double")) * sqrt($"nb2".cast("double"))))
      .filter($"cosine" >= 0.8)
      .select($"doc_a", $"doc_b", $"cosine")
  }
  val o170: String = s"""
    WITH tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY 1, 2),
    kept AS (SELECT term FROM tf GROUP BY term
             HAVING COUNT(*) <= $MaxTermDf),
    k AS (SELECT tf.* FROM tf JOIN kept USING (term)),
    norms AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM k GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(a.tf * b.tf) AS dot
      FROM k a JOIN k b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
      CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
        AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
        >= 0.8"""

  // ------------------------------------------------------------ SimHash
  /** 64-bit SimHash per doc (the Manku et al., WWW'07 fingerprint
    * width): per bit, the sign of the sum of ±1 votes from every token
    * hash — computed by the native `simhash64_native` Catalyst
    * expression (ONE codegen'd pass over the pre-hashed token array;
    * the composed-expression spelling needed 64 separate folds, each
    * re-walking the array). No explode, no shuffle. Bit 63 makes the
    * signature negative as a signed BIGINT; every consumer is bitwise
    * (shift/mask/xor/bit_count), identical on two's-complement int64
    * in both engines. The oracle votes bits 0–31 from the first
    * token-hash lane and 32–63 from the second — exactly the bits of
    * the packed lane the Spark side folds — and assembles the
    * signature with `|` (disjoint bit terms; bit 63's term is spelled
    * min-int64 via subtraction because neither parser accepts the raw
    * literal and DuckDB's `<<` raises on overflow). */
  private def simhashSql: String = {
    val h1 = s"((CAST(greatest(unicode(x), 0) * 131 + length(x) AS BIGINT) * 2654435761) & 4294967295)"
    val h2 = s"((CAST(greatest(unicode(x), 0) * 131 + length(x) AS BIGINT) * 2246822519) & 4294967295)"
    (0 until 64).map { b =>
      val (h, bit) = if (b < 32) (h1, b) else (h2, b - 32)
      val value =
        if (b == 63) "(CAST(-9223372036854775807 AS BIGINT) - 1)"
        else s"CAST(${1L << b} AS BIGINT)"
      s"""(CASE WHEN list_sum(list_transform(t,
            x -> 2 * ((($h) >> $bit) & 1) - 1)) > 0
          THEN $value ELSE CAST(0 AS BIGINT) END)"""
    }.mkString(" | ")
  }

  /** Adds `thm` (per-token hashes — the SimHash vote input): TWO
    * independent 32-bit multiplicative lanes packed low ∥ high into
    * one BIGINT, so the 64-bit fold walks a single array. Split out,
    * like [[withShingles]], so composites (q98/q147) can derive BOTH
    * text signals from one scan+tokenize of the corpus. shiftleft is
    * Java `<<` (bitwise, never an ANSI overflow); the high lane makes
    * large hashes negative, which the bit-reads don't care about. */
  private[ops] def withTokenHashes(df: DataFrame): DataFrame =
    df.withColumn("thm", expr(
      """transform(split(text, ' '), x ->
           ((CAST(ascii(x) * 131 + length(x) AS BIGINT) * 2654435761)
              & 4294967295)
           | shiftleft((CAST(ascii(x) * 131 + length(x) AS BIGINT)
                          * 2246822519)
              & 4294967295, 32))"""))

  /** Signature derivation from a frame that already carries `thm`. */
  private[ops] def simhashFrom(base: DataFrame): DataFrame =
    base.select(col("doc_id"),
      expr("simhash64_native(thm)").as("simhash"))

  val q59SimHash: Q = (s, d) =>
    simhashFrom(withTokenHashes(Tables.documents(s, d)))
  val o59: String = s"""
    SELECT doc_id, ${simhashSql} AS simhash
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)"""

  /** SimHash near-dup pairs: LSH on the four 16-bit lanes (pairs must
    * agree on at least one lane — the Manku et al. 4-table layout,
    * also q254's pHash layout), then exact Hamming ≤
    * [[SimHashHammingMax]] verify.
    *
    * Degenerate-skew hardening (the round-5 verdict's #1): identical
    * signatures are PRE-COLLAPSED into (signature, member-ids) groups
    * before banding, so the planted-replay/boilerplate case — N
    * near-identical docs sharing one signature — contributes ONE
    * entry per band bucket instead of N, and its hamming-0 member
    * pairs are emitted directly from the group row (they are the
    * OUTPUT's own cardinality, not candidate waste; run exact dedup
    * q54 first if that output itself is too large). Residual buckets
    * are then capped at [[MaxBandBucket]] DISTINCT signatures — the
    * q58 `MaxShingleDf` convention, MIRRORED in the oracle, so a
    * 16-bit lane shared by hundreds of distinct signatures (corpus-
    * wide noise, no near-dup signal) is dropped identically by both
    * engines at any scale. Cross-signature candidates Hamming-verify
    * BEFORE member expansion, so failing signature pairs never
    * expand into doc pairs.
    *
    * Layout: ONE group-by-signature exchange (checkpointed — it feeds
    * both the clique path and the banding path), one band-keyed
    * exchange over distinct signatures, in-row pair generation; no
    * join build side ever materializes. */
  val q60SimHashPairs: Q = (s, d) => simhashPairsFrom(q59SimHash(s, d))

  /** Max DISTINCT signatures per LSH band bucket fed to candidate
    * generation (q60/q157). Over-cap buckets carry no near-dup signal
    * (a 16-bit agreement shared by >cap distinct signatures is
    * background collision, not similarity) and would cost C(n,2)
    * candidate structs in one row. Mirrored in the oracles, so the
    * cap is engine-identical at any scale. */
  private[graft] val MaxBandBucket = 100

  /** Exact-Hamming verify threshold on the 64-bit signatures — the
    * same 6.25% bit-disagreement the old 2-of-32 threshold admitted
    * (Manku et al. ship 3-of-64 for 8B pages; 4 keeps the prior
    * fraction). LSH guarantee: ≤ 3 flipped bits always leave one of
    * the four 16-bit lanes intact; 4 flips are caught unless they
    * land in four distinct lanes — the standard banding recall trade,
    * mirrored in the oracle so both engines drop identically. */
  private[graft] val SimHashHammingMax = 4

  /** Verified near-signature pairs at SIGNATURE grain: LSH banding on
    * the four 16-bit lanes over one row per DISTINCT signature, bucket
    * cap [[MaxBandBucket]], exact Hamming ≤ [[SimHashHammingMax]]
    * verify, cross-band dedupe. Shared by the pair census
    * ([[simhashPairsFrom]]) and the cluster-edge form
    * ([[simhashClusterEdges]]) so the candidate semantics (and the o60
    * oracle mirror) can never drift between them. Input must carry one
    * row per distinct `simhash`; output is (sa, sb, hamming),
    * unordered-unique. Shifts are arithmetic in both engines — the
    * & 65535 mask makes the lane keys sign-independent. */
  private[graft] def verifiedSigPairs(sigGrain: DataFrame): DataFrame = {
    val s = sigGrain.sparkSession
    import s.implicits._
    // banding carries SIGNATURES ONLY — member id arrays never enter
    // the band shuffle; consumers attach members AFTER the (cheap,
    // signature-grain) Hamming verify.
    sigGrain
      .select($"simhash", expr(
        """explode(array(
             named_struct('band', 0, 'bk', shiftright(simhash, 48) & 65535),
             named_struct('band', 1, 'bk', shiftright(simhash, 32) & 65535),
             named_struct('band', 2, 'bk', shiftright(simhash, 16) & 65535),
             named_struct('band', 3, 'bk', simhash & 65535)))
           AS b"""))
      .groupBy($"b.band", $"b.bk")
      .agg(sort_array(collect_list($"simhash")).as("gs"))
      .filter(size($"gs") >= 2)
      .filter(size($"gs") <= MaxBandBucket) // mirrored in o60
      .transform(pairExplode(_, "gs"))
      .select($"__pa".as("sa"), $"__pb".as("sb"))
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      // verify at SIGNATURE grain, before member expansion
      .filter($"hamming" <= SimHashHammingMax)
      // a multi-lane agreement appears in each agreeing band: dedupe
      // the (small, verified) signature pairs, never doc pairs
      .distinct()
  }

  /** CLUSTER-GRAIN simhash evidence: the connectivity of
    * [[simhashPairsFrom]]'s pair graph in LINEAR edge volume — the
    * form every cluster consumer (q83/q98/q121/q145/q163) rides.
    *
    * The round-8 scale rehearsal measured why this exists: a
    * boilerplate-grade corpus put 34% of all documents on ONE simhash
    * signature, so the all-pairs census emitted ~10⁸ edges at a 40k
    * corpus (C(m,2) within-cliques plus |A|·|B| cross expansions) and
    * connected components spent its whole budget chewing edges that
    * add no connectivity. A clique is connected by a STAR and two
    * cliques by ONE representative edge, so this emits:
    *   - within: (rep, member) for every non-representative member —
    *     groupBy(min) + join-back, m−1 edges per group, NO collected
    *     id arrays (a 10⁸-member group never builds a 10⁸-element
    *     array anywhere);
    *   - cross: (rep_a, rep_b) once per VERIFIED signature pair from
    *     [[verifiedSigPairs]] — never |A|·|B| member pairs.
    *
    * Equivalence (why consumers can ride this without oracle
    * changes): every member is connected to its group's rep by the
    * star, and verified groups' reps are connected by the cross edge,
    * so connected components, component membership, per-doc "has a
    * verified near-dup" incidence, and the node set are IDENTICAL to
    * the all-pairs graph — only pair multiplicities differ. The
    * consumers' oracles keep computing components from the all-pairs
    * SQL (o60), making each green row an independent witness that the
    * collapse is lossless. Degree-semantics consumers (q143 census,
    * q171 pagerank, q197 triangles, q201 k-core, q259 density) keep
    * the pair census by contract. */
  private[ops] def simhashClusterEdges(sig: DataFrame): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    // one row per distinct signature with its elected representative;
    // feeds the star join-back, the banding, and both cross lookups
    val reps = sig.groupBy($"simhash")
      .agg(min($"doc_id").as("rep"))
      .localCheckpoint(eager = false)
    val star = sig.join(reps, Seq("simhash"))
      .filter($"doc_id" =!= $"rep")
      .select($"rep".as("doc_a"), $"doc_id".as("doc_b"))
    val cross = verifiedSigPairs(reps.select($"simhash"))
      .join(reps.select($"simhash".as("sa"), $"rep".as("ra")), Seq("sa"))
      .join(reps.select($"simhash".as("sb"), $"rep".as("rb")), Seq("sb"))
      .select(least($"ra", $"rb").as("doc_a"),
        greatest($"ra", $"rb").as("doc_b"))
    // star edges are within-signature, cross edges span signatures →
    // disjoint; reps are distinct (a doc holds one signature) so each
    // verified signature pair yields one unique rep pair.
    star.unionByName(cross)
  }

  /** [[simhashClusterEdges]] over the corpus signature frame. */
  private[graft] def q60ClusterEdges(s: SparkSession, d: String): DataFrame =
    simhashClusterEdges(q59SimHash(s, d))

  /** Pair derivation from an already-computed signature frame (see
    * [[minhashFrom]] / [[jaccardFrom]] for the pattern). */
  private[ops] def simhashPairsFrom(sig: DataFrame): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    // hamming-0 cliques: one row per distinct signature; consumed by
    // both the within-pairs and the banding path (plus the member
    // join-back below) → checkpoint the (bounded: ≤ one row per
    // distinct signature) frame.
    val groups = sig.groupBy($"simhash")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
      .localCheckpoint(eager = false)
    // hamming-0 member pairs, memory-safe at any group size (the
    // boilerplate regime: one template shared by 10⁵ pages is ONE
    // group here) — see [[withinPairs]].
    val within = withinPairs(groups, Seq("simhash"))
      .select($"doc_a", $"doc_b", lit(0).as("hamming"))
    val sigPairs = verifiedSigPairs(groups.select($"simhash"))
    // member expansion via CHAINED explodes: |ia|·|ib| doc pairs
    // stream out as generator rows — never one in-row pair array
    // (two giant verified groups would otherwise materialize their
    // whole cross product in a single row).
    val cross = sigPairs
      .join(groups.select($"simhash".as("sa"), $"ids".as("ia")),
        Seq("sa"))
      .join(groups.select($"simhash".as("sb"), $"ids".as("ib")),
        Seq("sb"))
      .select(explode($"ia").as("a"), $"ib", $"hamming")
      .select($"a", explode($"ib").as("b"), $"hamming")
      .select(least($"a", $"b").as("doc_a"),
        greatest($"a", $"b").as("doc_b"), $"hamming")
    // within ∩ cross = ∅ (cross pairs differ in signature) and both
    // sides are duplicate-free — no final distinct needed.
    within.unionByName(cross)
  }
  val o60: String = s"""
    WITH sig AS (${o59}),
    bh0 AS (SELECT (simhash >> 48) & 65535 AS bk,
                   COUNT(DISTINCT simhash) AS nsig FROM sig GROUP BY 1),
    bh1 AS (SELECT (simhash >> 32) & 65535 AS bk,
                   COUNT(DISTINCT simhash) AS nsig FROM sig GROUP BY 1),
    bh2 AS (SELECT (simhash >> 16) & 65535 AS bk,
                   COUNT(DISTINCT simhash) AS nsig FROM sig GROUP BY 1),
    bh3 AS (SELECT simhash & 65535 AS bk,
                   COUNT(DISTINCT simhash) AS nsig FROM sig GROUP BY 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM sig a
      JOIN sig b ON a.doc_id < b.doc_id
      LEFT JOIN bh0 ON bh0.bk = ((a.simhash >> 48) & 65535)
      LEFT JOIN bh1 ON bh1.bk = ((a.simhash >> 32) & 65535)
      LEFT JOIN bh2 ON bh2.bk = ((a.simhash >> 16) & 65535)
      LEFT JOIN bh3 ON bh3.bk = (a.simhash & 65535)
      WHERE a.simhash = b.simhash
         OR (((a.simhash >> 48) & 65535) = ((b.simhash >> 48) & 65535)
             AND bh0.nsig <= ${MaxBandBucket})
         OR (((a.simhash >> 32) & 65535) = ((b.simhash >> 32) & 65535)
             AND bh1.nsig <= ${MaxBandBucket})
         OR (((a.simhash >> 16) & 65535) = ((b.simhash >> 16) & 65535)
             AND bh2.nsig <= ${MaxBandBucket})
         OR ((a.simhash & 65535) = (b.simhash & 65535)
             AND bh3.nsig <= ${MaxBandBucket}))
    SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= ${SimHashHammingMax}"""

  // ----------------------------------------- MinHash estimator audit
  /** MinHash-estimated Jaccard vs EXACT Jaccard on the verified q58
    * pairs: the estimate is the fraction of agreeing signature slots
    * (the Broder property E[match] = J), reported with its absolute
    * error — the calibration audit that justifies trusting signatures
    * instead of shingle sets at scale (where exact J is unaffordable
    * corpus-wide and only ever computed on candidate pairs like
    * these).
    *
    * 100 TB design: the signature table is 4×8 bytes per doc; the join
    * here is driven by the (already bounded) verified-pair set, so the
    * audit costs two broadcast-scale hash joins on doc ids. */
  val q107MinhashEstimate: Q = (s, d) => {
    import s.implicits._
    // ONE shingle materialization feeds both the signature table and
    // the verified-pair derivation (a real pipeline persists the
    // shingle table once and builds every index off it) — without
    // this the expensive tokenize+shingle HOF pass runs twice
    val base = withShingles(Tables.documents(s, d))
      .select($"doc_id", $"shs").localCheckpoint(eager = false)
    val sig = minhashFrom(base)
    val est = (0 until 4).map(j =>
      when(col(s"a_mh$j") === col(s"b_mh$j"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / 4.0
    // the verified-pair set is usually bounded (near-dups, not corpus
    // rows): materialize it once and BROADCAST it into both signature
    // joins, so the full signature table streams map-side and is
    // never shuffled. But the pair count is DATA-dependent —
    // boilerplate-heavy corpora produce huge verified-pair sets — so
    // the broadcast is gated on a counted cap (the count is free: the
    // frame is already checkpointed), falling back to a shuffle join
    // above it, the same guard connectedComponents applies before its
    // driver collect.
    val pairs = jaccardFrom(base).localCheckpoint(eager = false)
    val small = pairs.count() <= MaxBroadcastPairs
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val withA = sig.select($"doc_id".as("doc_a"), $"mh0".as("a_mh0"),
        $"mh1".as("a_mh1"), $"mh2".as("a_mh2"), $"mh3".as("a_mh3"))
      .join(hint(pairs), Seq("doc_a"))
    sig.select($"doc_id".as("doc_b"), $"mh0".as("b_mh0"),
        $"mh1".as("b_mh1"), $"mh2".as("b_mh2"), $"mh3".as("b_mh3"))
      .join(hint(withA), Seq("doc_b"))
      .withColumn("est_jaccard", est)
      .withColumn("abs_err", abs($"jaccard" - $"est_jaccard"))
      .select($"doc_a", $"doc_b", $"jaccard", $"est_jaccard", $"abs_err")
  }
  val o107: String = s"""
    WITH sig AS (${o56}),
    pairs AS (${o58})
    SELECT p.doc_a, p.doc_b, p.jaccard,
      CAST((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END
          + CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END
          + CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END
          + CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END) AS DOUBLE) / 4.0
        AS est_jaccard,
      abs(p.jaccard -
        CAST((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END
            + CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END
            + CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END
            + CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END) AS DOUBLE) / 4.0)
        AS abs_err
    FROM pairs p
    JOIN sig a ON a.doc_id = p.doc_a
    JOIN sig b ON b.doc_id = p.doc_b"""

  // ----------------------------------------- cross-source overlap
  /** Cross-source corpus overlap: per source pair, the MinHash-
    * estimated Jaccard of the two sources' SHINGLE SETS next to the
    * exact value, with absolute error — the mirror-feed audit a
    * crawler team runs before ingesting a "new" source.
    *
    * 100 TB design: the sketch side is the whole point — a source's
    * signature slot is the MIN over its rows' slot values, so
    * per-partition partial mins combine associatively in one
    * map-side-combined aggregate (duplicates cannot change a min:
    * no distinct, no shuffle of shingles for the estimate; sketches
    * of yesterday's partitions merge with today's for free). The
    * exact side exists to calibrate the estimate and runs q58's
    * posting-list layout (source lists per shingle, in-row pair
    * generation, source-count-bounded rows); at scale you keep only
    * the sketch. */
  val q156SourceOverlap: Q = (s, d) => {
    import s.implicits._
    val srcSh = withShingles(Tables.documents(s, d))
      .select($"source", explode(array_distinct($"shs")).as("sh"))
      .distinct()
    val sigAggs = ab.zipWithIndex.map { case ((a, b), j) =>
      min(expr(s"($a * sh + $b) % $P")).as(s"mh$j")
    }
    val sig = srcSh.groupBy($"source").agg(sigAggs.head, sigAggs.tail: _*)
    val sizes = srcSh.groupBy($"source").agg(count(lit(1)).as("n"))
    val inter = srcSh.groupBy($"sh")
      .agg(sort_array(collect_list($"source")).as("ss"))
      .transform(pairExplode(_, "ss"))
      .select($"__pa".as("source_a"), $"__pb".as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("i"))
    val est = (0 until 4).map(j =>
      when(col(s"a_mh$j") === col(s"b_mh$j"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / 4.0
    inter
      .join(broadcast(sizes.select($"source".as("source_a"), $"n".as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select($"source".as("source_b"), $"n".as("n_b"))),
        Seq("source_b"))
      .join(broadcast(sig.select($"source".as("source_a"),
        $"mh0".as("a_mh0"), $"mh1".as("a_mh1"),
        $"mh2".as("a_mh2"), $"mh3".as("a_mh3"))), Seq("source_a"))
      .join(broadcast(sig.select($"source".as("source_b"),
        $"mh0".as("b_mh0"), $"mh1".as("b_mh1"),
        $"mh2".as("b_mh2"), $"mh3".as("b_mh3"))), Seq("source_b"))
      .withColumn("exact_j",
        $"i".cast("double") / ($"n_a" + $"n_b" - $"i").cast("double"))
      .withColumn("est_j", est)
      .withColumn("abs_err", abs($"exact_j" - $"est_j"))
      .select($"source_a", $"source_b", $"n_a", $"n_b", $"i".as("n_inter"),
        $"exact_j", $"est_j", $"abs_err")
  }
  val o156: String = {
    val mhs = ab.zipWithIndex.map { case ((a, b), j) =>
      s"MIN(($a * sh + $b) % $P) AS mh$j"
    }.mkString(", ")
    s"""
    WITH sh0 AS (
      SELECT DISTINCT source, unnest(shs) AS sh
      FROM (SELECT source, $shinglesSql AS shs
            FROM (SELECT source, string_split(text, ' ') AS t
                  FROM documents))),
    sig AS (SELECT source, $mhs FROM sh0 GROUP BY source),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh0 GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS i
      FROM sh0 a JOIN sh0 b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2)
    SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, i AS n_inter,
      CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS exact_j,
      CAST((CASE WHEN ga.mh0 = gb.mh0 THEN 1 ELSE 0 END
          + CASE WHEN ga.mh1 = gb.mh1 THEN 1 ELSE 0 END
          + CASE WHEN ga.mh2 = gb.mh2 THEN 1 ELSE 0 END
          + CASE WHEN ga.mh3 = gb.mh3 THEN 1 ELSE 0 END) AS DOUBLE) / 4.0
        AS est_j,
      abs(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE)
        - CAST((CASE WHEN ga.mh0 = gb.mh0 THEN 1 ELSE 0 END
              + CASE WHEN ga.mh1 = gb.mh1 THEN 1 ELSE 0 END
              + CASE WHEN ga.mh2 = gb.mh2 THEN 1 ELSE 0 END
              + CASE WHEN ga.mh3 = gb.mh3 THEN 1 ELSE 0 END) AS DOUBLE)
          / 4.0) AS abs_err
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    JOIN sig ga ON ga.source = source_a
    JOIN sig gb ON gb.source = source_b"""
  }

  // ------------------------------------- edit-distance verification
  /** Edit-distance verification of LSH candidates: pairs agreeing on
    * at least one MinHash band (q57's candidate definition) verified
    * by EXACT Levenshtein distance, normalized by the longer text;
    * pairs at ≤ 0.4 emit. This is the expensive-but-exact refinement
    * a dedup pipeline runs ONLY on candidates — O(len²) per pair is
    * unpayable corpus-wide but free on a banding-bounded pair set.
    *
    * 100 TB design: candidates generate in-row from band-keyed
    * posting lists (one exchange, the q60 layout — never a signature
    * self-join), with identical full signatures PRE-COLLAPSED into
    * groups (a replayed corpus contributes one banding entry, not N)
    * and residual buckets capped at [[MaxBandBucket]] distinct
    * signatures, mirrored in the oracle; the two text lookups are
    * hash joins on doc_id; the quadratic kernel touches only
    * surviving pairs.
    *
    * Parity note: Spark's levenshtein counts CODEPOINT edits while
    * DuckDB's counts BYTE edits (häus→haus is 1 vs 2), so both
    * engines compare the texts' ASCII projection — where bytes and
    * codepoints coincide — and normalize by the projected length.
    * Byte-exact multi-byte edit distance is not cross-engine
    * portable; the projection makes the divergence impossible
    * instead of merely unexercised. */
  val q157EditVerify: Q = (s, d) => {
    import s.implicits._
    // identical full signatures → one group; their member pairs are
    // candidates by construction (they agree on BOTH bands)
    val groups = q56MinHash(s, d)
      .groupBy($"mh0", $"mh1", $"mh2", $"mh3")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
      .localCheckpoint(eager = false)
    // memory-safe at any exact-dup group size — see [[withinPairs]]
    val within = withinPairs(groups, Seq("mh0", "mh1", "mh2", "mh3"))
    // banding carries SIGNATURES only (the q60 layout): member id
    // arrays join back after banding and expand via chained explodes,
    // so no in-row array ever holds a whole group cross product.
    val sigPairs = groups
      .select(struct($"mh0", $"mh1", $"mh2", $"mh3").as("sig"), expr(
        """explode(array(
             named_struct('band', 0, 'k1', mh0, 'k2', mh1),
             named_struct('band', 1, 'k1', mh2, 'k2', mh3))) AS b"""))
      .groupBy($"b.band", $"b.k1", $"b.k2")
      .agg(sort_array(collect_list($"sig")).as("gs"))
      .filter(size($"gs") >= 2)
      .filter(size($"gs") <= MaxBandBucket) // mirrored in o157
      .transform(pairExplode(_, "gs"))
      .select($"__pa".as("sa"), $"__pb".as("sb"))
    val cross = sigPairs
      .join(groups.select(
        struct($"mh0", $"mh1", $"mh2", $"mh3").as("sa"),
        $"ids".as("ia")), Seq("sa"))
      .join(groups.select(
        struct($"mh0", $"mh1", $"mh2", $"mh3").as("sb"),
        $"ids".as("ib")), Seq("sb"))
      .select(explode($"ia").as("a"), $"ib")
      .select($"a", explode($"ib").as("b"))
      .select(least($"a", $"b").as("doc_a"),
        greatest($"a", $"b").as("doc_b"))
    // distinct signatures agreeing on both bands would be identical —
    // impossible — so cross pairs are unique and disjoint from within
    val cand = within.unionByName(cross)
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    cand
      .join(docs.select($"doc_id".as("doc_a"), $"text".as("ta")),
        Seq("doc_a"))
      .join(docs.select($"doc_id".as("doc_b"), $"text".as("tb")),
        Seq("doc_b"))
      .withColumn("ta", regexp_replace($"ta", "[^\\x00-\\x7F]", ""))
      .withColumn("tb", regexp_replace($"tb", "[^\\x00-\\x7F]", ""))
      .withColumn("lev", levenshtein($"ta", $"tb").cast("long"))
      .withColumn("norm_dist", $"lev".cast("double")
        / greatest(length($"ta"), length($"tb"), lit(1)).cast("double"))
      .filter($"norm_dist" <= 0.4)
      .select($"doc_a", $"doc_b", $"lev", $"norm_dist")
  }
  val o157: String = s"""
    WITH sig AS (${o56}),
    dsig AS (SELECT DISTINCT mh0, mh1, mh2, mh3 FROM sig),
    bb0 AS (SELECT mh0, mh1, COUNT(*) AS nsig FROM dsig GROUP BY 1, 2),
    bb1 AS (SELECT mh2, mh3, COUNT(*) AS nsig FROM dsig GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a
      JOIN sig b ON a.doc_id < b.doc_id
      LEFT JOIN bb0 ON bb0.mh0 = a.mh0 AND bb0.mh1 = a.mh1
      LEFT JOIN bb1 ON bb1.mh2 = a.mh2 AND bb1.mh3 = a.mh3
      WHERE (a.mh0 = b.mh0 AND a.mh1 = b.mh1
             AND a.mh2 = b.mh2 AND a.mh3 = b.mh3)
         OR (a.mh0 = b.mh0 AND a.mh1 = b.mh1
             AND bb0.nsig <= ${MaxBandBucket})
         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3
             AND bb1.nsig <= ${MaxBandBucket})),
    proj AS (
      SELECT doc_a, doc_b,
        regexp_replace(da.text, '[^\\x00-\\x7F]', '', 'g') AS ta,
        regexp_replace(db.text, '[^\\x00-\\x7F]', '', 'g') AS tb
      FROM cand
      JOIN documents da ON da.doc_id = cand.doc_a
      JOIN documents db ON db.doc_id = cand.doc_b),
    v AS (
      SELECT doc_a, doc_b,
        CAST(levenshtein(ta, tb) AS BIGINT) AS lev,
        CAST(levenshtein(ta, tb) AS DOUBLE)
          / CAST(greatest(length(ta), length(tb), 1) AS DOUBLE)
          AS norm_dist
      FROM proj)
    SELECT doc_a, doc_b, lev, norm_dist FROM v
    WHERE norm_dist <= 0.4"""

  // ------------------------------------------------------- winnowing
  /** Winnowing window: each run of [[WinnowW]] consecutive shingle
    * hashes contributes its minimum. Guarantee (Schleimer, Wilkerson
    * & Aiken, "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD 2003): selected density ≤ 2/(W+1), and
    * any token run of ≥ W+2 tokens (W shingle windows) shared by two
    * documents yields at least one SHARED selected fingerprint. */
  private[ops] val WinnowW = 4

  /** Adds `sel` — the winnowed fingerprint set — to a shingled frame
    * via the native one-pass `winnow4_native` kernel.
    * Entirely IN-ROW: window minima over the shingle array; docs with
    * fewer than W shingles contribute their global minimum (the
    * degenerate one-window case), empty docs select nothing. */
  private[graft] def withWinnowed(base: DataFrame): DataFrame =
    base.withColumn("sel", call_function("winnow4_native", col("shs")))

  /** The composed spelling of [[withWinnowed]] — the ScalaCheck-pinned
    * parity witness of the native kernel. The CASE guard keeps
    * `sequence` ascending (the [[pairGenExpr]] partiality lesson —
    * sequence(1,0) counts DOWN); the filter() arm makes the < W
    * branch total (empty array → [null] → []). */
  private[graft] def withWinnowedComposed(base: DataFrame): DataFrame =
    base.withColumn("sel", expr(s"""
      CASE WHEN size(shs) >= $WinnowW THEN
        array_distinct(transform(sequence(1, size(shs) - ${WinnowW - 1}),
          i -> array_min(slice(shs, i, $WinnowW))))
      ELSE filter(array(array_min(shs)), x -> x IS NOT NULL) END"""))

  /** Winnowing fingerprint match pairs — the MOSS shape: cross-doc
    * REPEATED-SPAN detection with a locality guarantee exact dedup
    * lacks (any shared run ≥ W+2 tokens is caught) and MinHash only
    * offers in expectation. Reports pairs sharing ≥ 2 selected
    * fingerprints with both selection sizes and the shared-span
    * containment i / min(|A|, |B|).
    *
    * 100 TB design: selection never shuffles raw shingles — only the
    * ≤ 2/(W+1)-dense selected set explodes; then exactly q58's layout
    * (ONE fingerprint-keyed exchange, df-capped posting lists, in-row
    * bounded pair generation, sizes counted AFTER the cap so both
    * sides of the containment see the same sets). */
  val q208Winnowing: Q = (s, d) => {
    import s.implicits._
    val base = withWinnowed(withShingles(
      Tables.documents(s, d).select($"doc_id", $"text")))
    postingPairs(base.select($"doc_id", explode($"sel").as("fp")))
      .filter($"i" >= 2)
      .select($"doc_a", $"doc_b", $"i".as("n_shared"), $"na".as("sel_a"),
        $"nb".as("sel_b"))
      .withColumn("span_containment", $"n_shared".cast("double") /
        least($"sel_a", $"sel_b").cast("double"))
  }
  val o208: String = s"""
    WITH selb AS (
      SELECT doc_id,
        CASE WHEN len(shs) >= $WinnowW THEN
          list_distinct(list_transform(
            generate_series(1, len(shs) - ${WinnowW - 1}),
            i -> list_min(list_slice(shs, i, i + ${WinnowW - 1}))))
        ELSE list_filter([list_min(shs)], x -> x IS NOT NULL) END AS sel
      FROM (SELECT doc_id, $shinglesSql AS shs
            FROM (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents))),
    sh0 AS (SELECT doc_id, unnest(sel) AS fp FROM selb),
    kept AS (SELECT fp FROM sh0 GROUP BY fp
             HAVING COUNT(*) <= $MaxShingleDf),
    sh AS (SELECT sh0.doc_id, sh0.fp FROM sh0 JOIN kept USING (fp)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT doc_a, doc_b, n_shared, sa.n AS sel_a, sb.n AS sel_b,
      CAST(n_shared AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)
        AS span_containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b"""

  // ------------------------------------- exact shared-run (substring)
  /** Maximal shared token-run detection — the exact-substring dedup
    * primitive (the suffix-array method's answer, computed with
    * relational operators): for every candidate pair, the length in
    * TOKENS of the longest contiguous run both documents share.
    * Catches verbatim quotation / template reuse that Jaccard (q58)
    * underweights and winnowing (q208) only samples.
    *
    * Spelling: [[RunK]]-token window hashes with positions (first
    * occurrence per (doc, fp) — a window repeated within a doc
    * anchors at its first site; runs through self-repetitive regions
    * are reported conservatively shorter, never longer), df-capped
    * postings, in-row pair generation, then the DIAGONAL-ISLANDS
    * step: matches of a pair with equal pos_a − pos_b lie on one
    * alignment diagonal, and a run of consecutive pos_a on a diagonal
    * is a shared substring of run_tokens = consecutive_matches + K − 1.
    * Pairs report their longest run and total run count, thresholded
    * at [[MinRunTokens]].
    *
    * K = 8 (not the 3-shingles every Jaccard-family query uses) is
    * load-bearing: the window width sets the chance-collision rate,
    * and on this corpus's ~30-token vocabulary 3-shingles produce a
    * millions-of-rows chance-match relation while 8-windows match
    * essentially only real replays (the suffix-array literature's
    * 50-token windows, scaled to these ~56-token docs). The window
    * hash is a composed slice-fold (O(K) per window, interpreted —
    * fine at window-count = doc length; the `shinglesk_native` kernel
    * is the 100 TB path, same as `shingles3_native`).
    *
    * 100 TB design: one fp-keyed exchange (postings, df-capped at
    * [[MaxShingleDf]] docs — the q58 bound), one pair-keyed exchange
    * for the islands window; window partitions are per
    * (pair, diagonal), bounded by document length — never
    * corpus-scale. */
  private[graft] val MinRunTokens = 12
  private[graft] val RunK = 8

  /** The composed spelling of the K-token window hash (K =
    * [[RunK]]) — kept as the parity witness the native
    * `shinglesk_native` kernel is property-tested against.
    * A zip_with CHAIN over shifted slices, NOT slice(th, i, K) inside
    * a transform lambda: a lambda body referencing the derived `th`
    * column re-inlines the whole tokenize expression per ELEMENT
    * after projection collapse (the withShinglesComposed pitfall —
    * it cost this query 8 s at sf0.1); slice() in argument position
    * evaluates once per row. Even so the chain runs interpreted
    * (~2 s at sf0.1), which is why the query uses the kernel. */
  private[graft] val runWindowsComposedExpr: String = {
    val n = s"greatest(size(th) - ${RunK - 1}, 0)"
    (2 to RunK).foldLeft(s"slice(th, 1, $n)") { (acc, k) =>
      s"zip_with($acc, slice(th, $k, $n), (a, b) -> (a * 100003 + b) % $P)"
    }
  }
  private val runWindowsSql: String =
    s"""CASE WHEN len(t) >= $RunK THEN
          list_transform(generate_series(1, len(t) - ${RunK - 1}), i ->
            list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(i, i + ${RunK - 1}), j ->
                  CAST(greatest(unicode(t[j]), 0) * 131 + length(t[j])
                    AS BIGINT))),
              (acc, x) -> (acc * 100003 + x) % $P))
        ELSE []::BIGINT[] END"""

  val q213MaxSharedRun: Q = (s, d) =>
    maxSharedRunFrom(Tables.documents(s, d)
      .select(col("doc_id"), col("text")))

  /** The q213 island derivation over an arbitrary (doc_id, text)
    * frame — split out so DedupSkewSpec can pin the diagonal-islands
    * result against a planted run of known length, and shared with
    * the chunk-grain census (q231). One row per
    * (pair, diagonal, island): start position + run length. */
  private def sharedRunIslands(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val base = docs
      .withColumn("ws", call_function("shinglesk_native", col("text"),
        lit(RunK)))
    val occ = base
      .select($"doc_id", posexplode($"ws").as(Seq("p0", "fp")))
      .groupBy($"doc_id", $"fp")
      .agg(min($"p0" + 1).as("pos"))
    val postings = occ
      .groupBy($"fp")
      .agg(collect_list(struct($"doc_id", $"pos")).as("ds0"))
      .filter(size($"ds0").between(2, MaxShingleDf))
      .withColumn("ds", sort_array($"ds0"))
    val matches = pairExplode(postings, "ds")
      .select($"__pa.doc_id".as("doc_a"), $"__pb.doc_id".as("doc_b"),
        $"__pa.pos".as("pos_a"), $"__pb.pos".as("pos_b"))
    val w = Window.partitionBy($"doc_a", $"doc_b", $"diag")
      .orderBy($"pos_a")
    matches
      .withColumn("diag", $"pos_a" - $"pos_b")
      .withColumn("grp", $"pos_a" - row_number().over(w))
      .groupBy($"doc_a", $"doc_b", $"diag", $"grp")
      .agg(min($"pos_a").as("start_a"),
        (count(lit(1)) + (RunK - 1)).as("run_tokens"))
  }

  /** Run-grain shared spans: one row per maximal shared token run —
    * (doc_a, doc_b, diag, start_a, run_tokens); start on the b side
    * is `start_a − diag`. q213 collapses this to the per-pair max;
    * q231 maps each span onto the q99 chunk grain. */
  private[graft] def sharedRunsFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    sharedRunIslands(docs)
      .select($"doc_a", $"doc_b", $"start_a",
        ($"start_a" - $"diag").as("start_b"), $"run_tokens")
  }

  private[graft] def maxSharedRunFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    sharedRunIslands(docs)
      .groupBy($"doc_a", $"doc_b")
      .agg(max($"run_tokens").as("max_run_tokens"),
        count(lit(1)).as("n_runs"))
      .filter($"max_run_tokens" >= MinRunTokens)
  }
  /** Shared CTE chain ending in `isl` (one row per window-hash match,
    * grouped into islands by (pair, diag, grp)) — o213 collapses to
    * the per-pair max, o231 derives run spans at chunk grain. */
  private[graft] val sharedRunIslandsSql: String = s"""
    b AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents),
    sh0 AS (SELECT doc_id, $runWindowsSql AS shs FROM b),
    pos0 AS (SELECT doc_id,
        unnest(list_transform(generate_series(1, len(shs)),
          i -> struct_pack(pos := i, fp := shs[i]))) AS s
      FROM sh0),
    pos1 AS (SELECT doc_id, s.fp AS fp, min(s.pos) AS pos
             FROM pos0 GROUP BY 1, 2),
    kept AS (SELECT fp FROM pos1 GROUP BY fp
             HAVING COUNT(*) BETWEEN 2 AND $MaxShingleDf),
    m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS pos_a, a.pos - b.pos AS diag
          FROM pos1 a JOIN kept k ON a.fp = k.fp
                      JOIN pos1 b ON b.fp = a.fp
          WHERE a.doc_id < b.doc_id),
    isl AS (SELECT doc_a, doc_b, diag, pos_a,
        pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                   ORDER BY pos_a) AS grp
      FROM m)"""

  val o213: String = s"""
    WITH $sharedRunIslandsSql,
    runs AS (SELECT doc_a, doc_b, COUNT(*) + ${RunK - 1} AS run_tokens
             FROM isl GROUP BY doc_a, doc_b, diag, grp)
    SELECT doc_a, doc_b, MAX(run_tokens) AS max_run_tokens,
           COUNT(*) AS n_runs
    FROM runs GROUP BY 1, 2 HAVING MAX(run_tokens) >= $MinRunTokens"""

  // ------------------------------------ dedup truth-eval (benchmark)
  /** Precision/recall of the MinHash-LSH candidate generator against
    * PLANTED ground truth — the benchmark harness a pipeline runs
    * before trusting a dedup method at scale. q107 calibrates the
    * signature ESTIMATE against exact Jaccard and q147 measures
    * inter-method agreement; neither says how often the banding finds
    * a KNOWN near-duplicate. Here every doc_id ≡ 0 (mod 5) gets a
    * replayed twin (id + 6·2⁴⁰, one appended token — near-dup, not
    * exact, so band agreement is genuinely probabilistic), the truth
    * set is exactly those pairs, and the report is one row:
    * n_docs / n_truth / n_cand / n_hit / precision / recall /
    * reduction_ratio (the record-linkage blocking triad —
    * reduction ratio = 1 − n_cand/C(N,2) says how much of the
    * all-pairs space the banding pruned). False positives
    * (chance band collisions — common on this small-vocab corpus)
    * price the verification stage; misses price the residual dup
    * rate.
    *
    * 100 TB design: the candidate path is q57's band layout with
    * bucket lists capped at [[MaxBandBucket]]; metrics are two
    * single-row censuses cross-joined (intended broadcast —
    * PlanContractSpec whitelists it). */
  private val ReplayOff6 = 6L << 40

  /** The planted-truth corpus shared by q216/q222: every doc_id ≡ 0
    * (mod 5) gets a one-token-perturbed twin at +6·2⁴⁰. Returns
    * (augmented corpus, truth pair set). */
  private def replayAug(docs: DataFrame): (DataFrame, DataFrame) = {
    val replay = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + lit(ReplayOff6)).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text"))
    val truth = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("a"),
        (col("doc_id") + lit(ReplayOff6)).as("b"))
    (docs.unionByName(replay), truth)
  }

  val q216DedupTruthEval: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val (aug, truthPairs) = replayAug(docs)
    val bands = bandsFrom(minhashFrom(withShingles(aug)))
    val pairs = bands.groupBy($"band", $"h1", $"h2")
      .agg(sort_array(collect_list($"doc_id")).as("ds"))
      .filter(size($"ds").between(2, MaxBandBucket))
      .transform(pairExplode(_, "ds"))
      .select($"__pa".as("a"), $"__pb".as("b"))
      .distinct()
    val truth = truthPairs.withColumn("is_truth", lit(1L))
    val candStats = pairs
      .join(truth, Seq("a", "b"), "left")
      .agg(count(lit(1)).as("n_cand"),
        // outer coalesce: sum over ZERO rows (empty candidate set) is
        // null — the report must say n_hit = 0, like precision's guard
        coalesce(sum(coalesce($"is_truth", lit(0L))), lit(0L))
          .cast("long").as("n_hit"))
    val truthStats = truth.agg(count(lit(1)).as("n_truth"))
    val corpusStats = aug.agg(count(lit(1)).as("n_docs"))
    candStats.crossJoin(truthStats).crossJoin(corpusStats)
      .select($"n_docs", $"n_truth", $"n_cand", $"n_hit",
        when($"n_cand" === 0, lit(0).cast("double"))
          .otherwise($"n_hit".cast("double") / $"n_cand")
          .as("precision"),
        ($"n_hit".cast("double") / $"n_truth").as("recall"),
        (lit(1).cast("double") - ($"n_cand" * 2).cast("double")
          / ($"n_docs" * ($"n_docs" - 1))).as("reduction_ratio"))
  }
  val o216: String = {
    s"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + $ReplayOff6 AS doc_id, text || ' zzz' AS text
      FROM documents WHERE doc_id % 5 = 0),
    sig AS (${sigSqlOver("aug")}),
    bands AS (
      SELECT doc_id, 0 AS band, mh0 AS h1, mh1 AS h2 FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, mh2 AS h1, mh3 AS h2 FROM sig),
    buck AS (
      SELECT band, h1, h2, list_sort(list(doc_id)) AS ds
      FROM bands GROUP BY 1, 2, 3
      HAVING COUNT(*) BETWEEN 2 AND $MaxBandBucket),
    pairs AS (
      SELECT DISTINCT p.a AS a, p.b AS b FROM (
        SELECT unnest(flatten(list_transform(
          generate_series(1, len(ds) - 1), i ->
            list_transform(list_slice(ds, i + 1, len(ds)),
              x -> struct_pack(a := ds[i], b := x))))) AS p
        FROM buck) q),
    truth AS (
      SELECT doc_id AS a, doc_id + $ReplayOff6 AS b
      FROM documents WHERE doc_id % 5 = 0),
    cand AS (
      SELECT COUNT(*) AS n_cand,
        CAST(COALESCE(SUM(CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END),
          0) AS BIGINT) AS n_hit
      FROM pairs p LEFT JOIN truth t ON t.a = p.a AND t.b = p.b),
    ts AS (SELECT COUNT(*) AS n_truth FROM truth),
    cs AS (SELECT COUNT(*) AS n_docs FROM aug)
    SELECT cs.n_docs, ts.n_truth, cand.n_cand, cand.n_hit,
      CASE WHEN cand.n_cand = 0 THEN CAST(0 AS DOUBLE)
           ELSE CAST(cand.n_hit AS DOUBLE) / cand.n_cand
      END AS precision,
      CAST(cand.n_hit AS DOUBLE) / ts.n_truth AS recall,
      CAST(1 AS DOUBLE) - CAST(cand.n_cand * 2 AS DOUBLE)
        / (cs.n_docs * (cs.n_docs - 1)) AS reduction_ratio
    FROM cand CROSS JOIN ts CROSS JOIN cs"""
  }

  // ------------------------------------- b-bit MinHash calibration
  /** b-bit MinHash calibration (Li & König): storing only the lowest
    * [[BbitBits]] bits of each MinHash lane cuts signature storage
    * 16× at the price of chance bit-collisions, corrected by the
    * unbiased estimator Ĵ = (agreement − 2⁻ᵇ)/(1 − 2⁻ᵇ). This query
    * measures what that correction actually buys on two deterministic
    * pair populations — planted near-dup replays (high J) and
    * adjacent-id pairs (background J) — reporting mean exact Jaccard,
    * the full-lane estimator's MAE, and the b-bit estimator's MAE per
    * population. The number a storage-constrained dedup reads before
    * shrinking its signatures.
    *
    * Float parity: exact J is an in-row intersect/union of distinct
    * shingle sets (both engines dedup list/array intersection
    * identically) with ONE divide; agreements are dyadic quarters;
    * MAEs route |err| through decimal(30,8) sums. Pairs where EITHER
    * shingle set is empty (a sub-3-token doc) are EXCLUDED — the
    * empty side's signature lanes are null, so neither estimator is
    * defined, and scoring such pairs would bias both MAEs (round-6
    * ADVICE finding, mirrored in the oracle).
    *
    * 100 TB design: everything is keyed by the bounded pair set
    * (truth + sampled adjacents) — two hash joins pull shingle arrays
    * and signatures to pairs; no corpus-scale pairing anywhere. */
  private val BbitBits = 4

  val q222BbitCalibration: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val (aug, truthPairs) = replayAug(docs)
    val adjacent = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id".as("a"), ($"doc_id" + 1).as("b"))
      .join(docs.select($"doc_id".as("b")), Seq("b"), "left_semi")
    val pairs = truthPairs.withColumn("pair_class", lit("replay"))
      .unionByName(adjacent.withColumn("pair_class", lit("adjacent")))
    val base = withShingles(aug)
    val sig = minhashFrom(base).localCheckpoint(eager = false)
    val shs = base.select($"doc_id", array_distinct($"shs").as("ds"))
    def side(p: String) = (df: DataFrame, cols: Seq[String]) =>
      cols.foldLeft(df.withColumnRenamed("doc_id", p)) { (f, c) =>
        f.withColumnRenamed(c, s"${p}_$c")
      }
    val withSets = pairs
      .join(side("a")(shs, Seq("ds")), Seq("a"))
      .join(side("b")(shs, Seq("ds")), Seq("b"))
      .withColumn("ninter",
        size(array_intersect($"a_ds", $"b_ds")).cast("long"))
      .withColumn("nunion",
        (size($"a_ds") + size($"b_ds")).cast("long") - $"ninter")
      // pairs where EITHER shingle set is empty (a sub-3-token doc)
      // are excluded: the empty side has null signature lanes, so
      // neither the full-lane nor the b-bit estimator is defined —
      // keeping one-sided pairs scored them as agreement 0 (est_bbit
      // = −1/15 vs j_exact = 0), injecting a small artificial error
      // into both MAEs (round-6 ADVICE finding; mirrored in the
      // oracle). Both-empty pairs fall out with them (nunion = 0).
      .filter(size($"a_ds") > 0 && size($"b_ds") > 0)
      .withColumn("j_exact", $"ninter".cast("double") / $"nunion")
      .select($"a", $"b", $"pair_class", $"j_exact")
    val lanes = Seq("mh0", "mh1", "mh2", "mh3")
    val mask = (1L << BbitBits) - 1
    val withSigs = withSets
      .join(side("a")(sig, lanes), Seq("a"))
      .join(side("b")(sig, lanes), Seq("b"))
      .withColumn("agree_full", lanes.map(l =>
          when(col(s"a_$l") === col(s"b_$l"), 1).otherwise(0))
        .reduce(_ + _).cast("double") / lanes.size)
      .withColumn("agree_bbit", lanes.map(l =>
          when(col(s"a_$l") % (mask + 1) === col(s"b_$l") % (mask + 1),
            1).otherwise(0))
        .reduce(_ + _).cast("double") / lanes.size)
      .withColumn("est_bbit",
        ($"agree_bbit" - lit(1.0) / (mask + 1).toDouble)
          / (lit(1.0) - lit(1.0) / (mask + 1).toDouble))
    withSigs.groupBy($"pair_class")
      .agg(count(lit(1)).as("n_pairs"),
        (sum($"j_exact".cast("decimal(30,8)")).cast("double")
          / count(lit(1))).as("mean_j_exact"),
        (sum(abs($"agree_full" - $"j_exact").cast("decimal(30,8)"))
          .cast("double") / count(lit(1))).as("mae_full"),
        (sum(abs($"est_bbit" - $"j_exact").cast("decimal(30,8)"))
          .cast("double") / count(lit(1))).as("mae_bbit"))
  }
  val o222: String = {
    val m = (1L << BbitBits)
    val agreeFull = (0 to 3).map(j =>
      s"(CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val agreeBbit = (0 to 3).map(j =>
      s"(CASE WHEN a.mh$j % $m = b.mh$j % $m THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""
    WITH docsrc AS (SELECT doc_id, text FROM documents),
    aug AS (
      SELECT doc_id, text FROM docsrc
      UNION ALL
      SELECT doc_id + $ReplayOff6 AS doc_id, text || ' zzz' AS text
      FROM docsrc WHERE doc_id % 5 = 0),
    pairs AS (
      SELECT doc_id AS a, doc_id + $ReplayOff6 AS b,
        'replay' AS pair_class
      FROM docsrc WHERE doc_id % 5 = 0
      UNION ALL
      SELECT p.a, p.b, 'adjacent' AS pair_class FROM (
        SELECT doc_id AS a, doc_id + 1 AS b FROM docsrc
        WHERE doc_id % 7 = 0) p
      WHERE EXISTS (SELECT 1 FROM docsrc x WHERE x.doc_id = p.b)),
    shs AS (
      SELECT doc_id, list_distinct($shinglesSql) AS ds
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM aug)),
    sig AS (${sigSqlOver("aug")}),
    withsets AS (
      SELECT p.a, p.b, p.pair_class,
        CAST(len(list_intersect(sa.ds, sb.ds)) AS DOUBLE)
          / (len(sa.ds) + len(sb.ds)
             - len(list_intersect(sa.ds, sb.ds))) AS j_exact
      FROM pairs p
      JOIN shs sa ON sa.doc_id = p.a
      JOIN shs sb ON sb.doc_id = p.b
      WHERE len(sa.ds) > 0 AND len(sb.ds) > 0),
    withsigs AS (
      SELECT w.pair_class, w.j_exact,
        CAST($agreeFull AS DOUBLE) / 4 AS agree_full,
        (CAST($agreeBbit AS DOUBLE) / 4 - CAST(1 AS DOUBLE) / $m)
          / (CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / $m) AS est_bbit
      FROM withsets w
      JOIN sig a ON a.doc_id = w.a
      JOIN sig b ON b.doc_id = w.b)
    SELECT pair_class, COUNT(*) AS n_pairs,
      CAST(SUM(CAST(j_exact AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*)
        AS mean_j_exact,
      CAST(SUM(CAST(abs(agree_full - j_exact) AS DECIMAL(30,8)))
        AS DOUBLE) / COUNT(*) AS mae_full,
      CAST(SUM(CAST(abs(est_bbit - j_exact) AS DECIMAL(30,8)))
        AS DOUBLE) / COUNT(*) AS mae_bbit
    FROM withsigs GROUP BY pair_class"""
  }

  // ----------------------------------- partition agreement (Rand index)
  /** Rand index between the two independent LSH band partitions —
    * "do two hash views of the corpus agree on what clusters
    * together?" Band 0 groups docs by (mh0, mh1), band 1 by
    * (mh2, mh3); both should co-bucket genuine near-dups and split
    * everything else, and their structural agreement (fraction of
    * doc PAIRS on which the partitions agree) is the stability signal
    * a pipeline watches when it re-hashes or re-parameterizes its
    * banding.
    *
    * The Rand index is defined over all C(N,2) pairs but NO pairs are
    * materialized: with contingency cells m_ij = |band0 cluster i ∩
    * band1 cluster j|, pairs-together-in-both n11 = Σ C(m_ij, 2),
    * per-side totals from the marginal sizes, and
    * rand = (C(N,2) + 2·n11 − n_a − n_b) / C(N,2) — all from
    * cluster-SIZE algebra. The C(·,2) products and their sums route
    * through decimal(38,0)/HUGEINT with INTEGER halving (the q179
    * crossDevAbs convention), so the arithmetic is exact wherever the
    * REPORTED pair counts themselves fit int64 (up to ~4.3e9 members
    * per cell — the old long-product spelling overflowed at ~3e9 and
    * the double `/ 2` lost exactness past 2^53; HashSafetySpec plants
    * a 3.9e9-member cell to pin this).
    *
    * 100 TB design: one signature scan → ONE (4-lane key) cell
    * census, localCheckpoint'd because the two marginal censuses
    * derive from it; every aggregate is map-side combined over 8-byte
    * lanes; the final report crosses four single-row censuses
    * (intended broadcast — whitelisted). */
  val q220PartitionAgreement: Q = (s, d) => {
    import s.implicits._
    val cells = minhashFrom(withShingles(
        Tables.documents(s, d).select($"doc_id", $"text")))
      .groupBy($"mh0", $"mh1", $"mh2", $"mh3")
      .agg(count(lit(1)).as("m"))
      .localCheckpoint(eager = false)
    // m·(m−1) and its sum route through decimal(38,0) (the q179
    // crossDevAbs convention) and halve by INTEGER division — exact
    // at any corpus size, where the old long product + double `/ 2`
    // held only below the 2^53/3e9-row bound the docstring cites
    def pairSum(df: DataFrame, c: String) =
      df.agg(coalesce(sum(col(c).cast("decimal(38,0)") * (col(c) - 1)),
        lit(0).cast("decimal(38,0)")).as(s"p_$c"))
    val n11 = pairSum(cells, "m")
      .select(expr("p_m div 2").cast("long").as("n11"))
    val na = pairSum(cells.groupBy($"mh0", $"mh1")
        .agg(sum($"m").as("a")), "a")
      .select(expr("p_a div 2").cast("long").as("n_a"))
    val nb = pairSum(cells.groupBy($"mh2", $"mh3")
        .agg(sum($"m").as("b")), "b")
      .select(expr("p_b div 2").cast("long").as("n_b"))
    val tot = cells.agg(sum($"m").cast("long").as("n_docs"))
    tot.crossJoin(n11).crossJoin(na).crossJoin(nb)
      .withColumn("n_pairs_total",
        expr("(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)) div 2")
          .cast("long"))
      .select($"n_docs", $"n_pairs_total", $"n11", $"n_a", $"n_b",
        (($"n_pairs_total" + $"n11" * 2 - $"n_a" - $"n_b")
          .cast("double") / $"n_pairs_total").as("rand_index"))
  }
  val o220: String = {
    s"""
    WITH sig AS ($o56),
    cells AS (
      SELECT mh0, mh1, mh2, mh3, COUNT(*) AS m
      FROM sig GROUP BY 1, 2, 3, 4),
    n11 AS (
      SELECT CAST(COALESCE(SUM(CAST(m AS HUGEINT) * (m - 1)), 0) // 2
        AS BIGINT) AS n11
      FROM cells),
    na AS (
      SELECT CAST(COALESCE(SUM(CAST(a AS HUGEINT) * (a - 1)), 0) // 2
        AS BIGINT) AS n_a
      FROM (SELECT CAST(SUM(m) AS BIGINT) AS a FROM cells
            GROUP BY mh0, mh1)),
    nb AS (
      SELECT CAST(COALESCE(SUM(CAST(b AS HUGEINT) * (b - 1)), 0) // 2
        AS BIGINT) AS n_b
      FROM (SELECT CAST(SUM(m) AS BIGINT) AS b FROM cells
            GROUP BY mh2, mh3)),
    tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n_docs FROM cells)
    SELECT tot.n_docs,
      CAST(CAST(tot.n_docs AS HUGEINT) * (tot.n_docs - 1) // 2
        AS BIGINT) AS n_pairs_total,
      n11.n11, na.n_a, nb.n_b,
      CAST(CAST(tot.n_docs AS HUGEINT) * (tot.n_docs - 1) // 2
           + 2 * n11.n11 - na.n_a - nb.n_b AS DOUBLE)
        / CAST(CAST(tot.n_docs AS HUGEINT) * (tot.n_docs - 1) // 2
            AS BIGINT)
        AS rand_index
    FROM tot CROSS JOIN n11 CROSS JOIN na CROSS JOIN nb"""
  }

  // --------------------------------------- dedup-scope census
  /** Global vs per-source exact dedup — the scope question every
    * multi-snapshot corpus build answers first (the FineWeb finding:
    * deduplicating each snapshot internally keeps more GOOD data than
    * one global pass, because global dedup lets early snapshots eat
    * later ones). Per source: raw docs, within-source duplicates
    * (what source-local dedup removes), local survivors, global
    * survivors (min-doc_id election corpus-wide), and
    * `n_lost_to_global` — local survivors a GLOBAL pass kills because
    * the fingerprint's canonical copy lives in another source. That
    * last column is the per-source price of global scope.
    *
    * Non-vacuous at every SF: doc_id ≡ 0 (mod 7) plants a
    * CROSS-source exact replay at +8·2⁴⁰ (source relabeled
    * `mirror_<src>`), doc_id ≡ 0 (mod 11) a WITHIN-source replay at
    * +9·2⁴⁰ — both scopes fire, and the mirror sources lose all their
    * local survivors to global scope by construction (originals carry
    * the smaller ids).
    *
    * 100 TB design: text collapses to the 8-byte fingerprint at the
    * scan and never shuffles; survivor election is two map-side
    * combined aggregates — per (fp, source), then per fp over THAT
    * census (min of per-source minima = global min, so the global
    * pass never re-reads the corpus); the verdict join carries
    * (fp, source, ids) rows only. */
  val q253DedupScope: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", $"source", $"text")
    val cross = base.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + lit(8L << 40)).as("doc_id"),
        concat(lit("mirror_"), $"source").as("source"), $"text")
    val within = base.filter($"doc_id" % 11 === 0)
      .select(($"doc_id" + lit(9L << 40)).as("doc_id"), $"source",
        $"text")
    val docs = base.unionByName(cross).unionByName(within)
      .select($"doc_id", $"source", TextOps.fingerprintCol.as("fp"))
    val keepS = docs.groupBy($"fp", $"source")
      .agg(min($"doc_id").as("keep_s"))
      .localCheckpoint(eager = false) // feeds the global election AND the verdict
    val keepG = keepS.groupBy($"fp").agg(min($"keep_s").as("keep_g"))
    docs.join(keepS, Seq("fp", "source"))
      .join(keepG, Seq("fp"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"doc_id" =!= $"keep_s", 1L).otherwise(0L))
          .cast("long").as("n_within_dups"),
        sum(when($"doc_id" === $"keep_s", 1L).otherwise(0L))
          .cast("long").as("n_local_survivors"),
        sum(when($"doc_id" === $"keep_g", 1L).otherwise(0L))
          .cast("long").as("n_global_survivors"),
        sum(when($"doc_id" === $"keep_s" && $"doc_id" =!= $"keep_g", 1L)
          .otherwise(0L)).cast("long").as("n_lost_to_global"))
  }
  val o253: String = s"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + ${8L << 40} AS doc_id,
        'mirror_' || source AS source, text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + ${9L << 40} AS doc_id, source, text
      FROM documents WHERE doc_id % 11 = 0),
    docs AS (
      SELECT doc_id, source, ${TextOps.fingerprintSql} AS fp
      FROM corpus),
    ks AS (
      SELECT fp, source, MIN(doc_id) AS keep_s
      FROM docs GROUP BY 1, 2),
    kg AS (SELECT fp, MIN(keep_s) AS keep_g FROM ks GROUP BY 1)
    SELECT d.source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN d.doc_id <> ks.keep_s THEN 1 ELSE 0 END)
        AS BIGINT) AS n_within_dups,
      CAST(SUM(CASE WHEN d.doc_id = ks.keep_s THEN 1 ELSE 0 END)
        AS BIGINT) AS n_local_survivors,
      CAST(SUM(CASE WHEN d.doc_id = kg.keep_g THEN 1 ELSE 0 END)
        AS BIGINT) AS n_global_survivors,
      CAST(SUM(CASE WHEN d.doc_id = ks.keep_s AND d.doc_id <> kg.keep_g
        THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_to_global
    FROM docs d
    JOIN ks ON ks.fp = d.fp AND ks.source = d.source
    JOIN kg ON kg.fp = d.fp
    GROUP BY d.source"""

  // --------------------------------- cross-lingual leakage census
  /** Near-duplicate pairs censused along the LANGUAGE axis — the
    * translation-/boilerplate-contamination face of q238's split
    * leakage: a near-dup pair whose sides carry different langs means
    * the "different-language" eval slice is not independent of train
    * (machine-translated replays, shared templates). Census per
    * unordered lang pair with a cross-lang flag and the exact
    * fixed-point mean Jaccard (floor ×1e15 per pair — one IEEE divide
    * each, summed EXACTLY in decimal(38,0): the q240 int64 spelling
    * overflows once one lang-pair group holds >~9.2k near-dup pairs,
    * which the ×64 scale rehearsal reached; the decimal sum is good
    * to 10²³ pairs and both engines round it to the same double).
    *
    * Non-vacuous at every SF: doc_id ≡ 0 (mod 8) plants a one-token-
    * appended replay at +11·2⁴⁰ RELABELED `<lang>_x` (q216's
    * perturbation recipe × q189's relabel recipe) — each stands in
    * for a translated twin: near-dup by construction, different lang
    * by construction.
    *
    * 100 TB design: rides q58's df-capped posting-list machinery over
    * the augmented corpus ([[jaccardPairsOver]] — one shingle-keyed
    * exchange, in-row pair generation, never all-pairs); langs attach
    * by two keyed joins against the (doc_id, lang) projection; the
    * census is map-side combined on a |langs|² key domain. */
  val q255CrossLangLeak: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", $"lang", $"text")
    val replay = base.filter($"doc_id" % 8 === 0)
      .select(($"doc_id" + lit(11L << 40)).as("doc_id"),
        concat($"lang", lit("_x")).as("lang"),
        concat($"text", lit(" zzz")).as("text"))
    val aug = base.unionByName(replay)
    val pairs = jaccardPairsOver(aug.select($"doc_id", $"text"))
    val langs = aug.select($"doc_id", $"lang")
    pairs
      .join(langs.select($"doc_id".as("doc_a"), $"lang".as("la")),
        Seq("doc_a"))
      .join(langs.select($"doc_id".as("doc_b"), $"lang".as("lb")),
        Seq("doc_b"))
      .select(least($"la", $"lb").as("lang_lo"),
        greatest($"la", $"lb").as("lang_hi"),
        floor($"jaccard" * lit(1.0e15)).cast("long").as("j_fp"))
      .groupBy($"lang_lo", $"lang_hi")
      // the per-pair 1e15 fixed point is too hot for an int64 census
      // sum: >~9.2k near-dup pairs in ONE lang-pair group overflows
      // (the round-8 x64 rehearsal hit it). Sum EXACTLY in
      // decimal(38,0) — good to 10²³ pairs — and surface the sum as
      // double: both engines round the same exact decimal to the
      // same nearest double, so the hash compare still bites.
      .agg(count(lit(1)).as("n_pairs"),
        sum($"j_fp".cast("decimal(38,0)")).cast("double").as("j_fp_sum"))
      .withColumn("cross_lang",
        when($"lang_lo" =!= $"lang_hi", 1L).otherwise(0L))
      .withColumn("mean_jaccard", $"j_fp_sum"
        / ($"n_pairs".cast("double") * lit(1.0e15)))
  }
  val o255: String = s"""
    WITH aug AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + ${11L << 40} AS doc_id, lang || '_x' AS lang,
        text || ' zzz' AS text
      FROM documents WHERE doc_id % 8 = 0),
    jac AS (${o58Over("aug")}),
    tagged AS (
      SELECT least(la.lang, lb.lang) AS lang_lo,
        greatest(la.lang, lb.lang) AS lang_hi,
        CAST(FLOOR(j.jaccard * 1.0e15) AS BIGINT) AS j_fp
      FROM jac j
      JOIN aug la ON la.doc_id = j.doc_a
      JOIN aug lb ON lb.doc_id = j.doc_b)
    SELECT lang_lo, lang_hi, COUNT(*) AS n_pairs,
      CAST(SUM(CAST(j_fp AS DECIMAL(38,0))) AS DOUBLE) AS j_fp_sum,
      CAST(CASE WHEN lang_lo <> lang_hi THEN 1 ELSE 0 END AS BIGINT)
        AS cross_lang,
      CAST(SUM(CAST(j_fp AS DECIMAL(38,0))) AS DOUBLE)
        / (CAST(COUNT(*) AS DOUBLE) * 1.0e15) AS mean_jaccard
    FROM tagged GROUP BY lang_lo, lang_hi"""

  // ---------------------------------- LSH operating-point calibration
  /** MinHash-LSH (b, r) operating-point sweep: for every way of
    * splitting a 16-lane signature into b bands of r rows
    * ((16,1), (8,2), (4,4), (2,8), (1,16)), the expected candidate
    * recall above the J ≥ 0.5 near-dup threshold and the expected
    * false-candidate rate below it, evaluated against the OBSERVED
    * candidate-pair similarity population (q58's df-capped posting
    * layout with the report threshold dropped to 0.0 — the sweep needs
    * the below-threshold mass that q58 discards). The collision
    * probability for a pair at similarity s is the standard S-curve
    * p = 1 − (1 − s^r)^b (Broder per-lane match probability = J,
    * independent lanes); the config a pipeline should run is the one
    * whose curve is steepest around its threshold — this query turns
    * that textbook plot into a census over the corpus's own pair
    * distribution, which is what actually determines the FP bill.
    *
    * Float parity: s is one IEEE divide of exact ints (bit-identical);
    * every power is an explicit multiplication chain (s² = s·s,
    * s⁴ = s²·s², …, never a runtime pow — the q182 no-runtime-log/pow
    * convention), so p is the identical IEEE op DAG on both engines;
    * per-pair p is then fixed-pointed (floor ×1e12) and summed in
    * decimal(38,0) (exact past int64, the q255 convention), surfaced
    * as one double division.
    *
    * 100 TB design: the pair population is q58's bounded candidate
    * layout (one shingle-keyed exchange, ≤ C(df-cap, 2) in-row pairs
    * per shingle); the sweep itself is O(1) arithmetic per pair × 5
    * stacked configs, collapsing to a 5-row census — no new shuffle
    * beyond q58's own. */
  val q266LshOperatingPoints: Q = (s, d) => {
    import s.implicits._
    val pw = jaccardFrom(withShingles(Tables.documents(s, d)), 0.0)
      .withColumn("s2", $"jaccard" * $"jaccard")
      .withColumn("s4", $"s2" * $"s2")
      .withColumn("s8", $"s4" * $"s4")
      .withColumn("s16", $"s8" * $"s8")
      // (16,1): 1-(1-s)^16   — t-chain
      .withColumn("t1", lit(1.0) - $"jaccard")
      .withColumn("t2", $"t1" * $"t1")
      .withColumn("t4", $"t2" * $"t2")
      .withColumn("t8", $"t4" * $"t4")
      .withColumn("p16x1", lit(1.0) - $"t8" * $"t8")
      // (8,2): 1-(1-s^2)^8   — u-chain
      .withColumn("u1", lit(1.0) - $"s2")
      .withColumn("u2", $"u1" * $"u1")
      .withColumn("u4", $"u2" * $"u2")
      .withColumn("p8x2", lit(1.0) - $"u4" * $"u4")
      // (4,4): 1-(1-s^4)^4   — v-chain
      .withColumn("v1", lit(1.0) - $"s4")
      .withColumn("v2", $"v1" * $"v1")
      .withColumn("p4x4", lit(1.0) - $"v2" * $"v2")
      // (2,8): 1-(1-s^8)^2
      .withColumn("w1", lit(1.0) - $"s8")
      .withColumn("p2x8", lit(1.0) - $"w1" * $"w1")
      // (1,16): s^16
      .withColumn("p1x16", $"s16")
    pw.select($"jaccard",
        expr("""stack(5, 16, 1, p16x1, 8, 2, p8x2, 4, 4, p4x4,
                         2, 8, p2x8, 1, 16, p1x16)
                AS (bands, rows_per_band, p)"""))
      .withColumn("p_fp", floor($"p" * lit(1.0e12)).cast("long"))
      .groupBy($"bands", $"rows_per_band")
      .agg(
        sum(when($"jaccard" >= 0.5, 1L).otherwise(0L)).cast("long")
          .as("n_above"),
        sum(when($"jaccard" < 0.5, 1L).otherwise(0L)).cast("long")
          .as("n_below"),
        sum(when($"jaccard" >= 0.5, $"p_fp").otherwise(0L)
          .cast("decimal(38,0)")).as("caught_dec"),
        sum(when($"jaccard" < 0.5, $"p_fp").otherwise(0L)
          .cast("decimal(38,0)")).as("fp_dec"))
      .select($"bands", $"rows_per_band", $"n_above", $"n_below",
        when($"n_above" > 0L, $"caught_dec".cast("double")
          / ($"n_above".cast("double") * lit(1.0e12))).as("exp_recall"),
        when($"n_below" > 0L, $"fp_dec".cast("double")
          / ($"n_below".cast("double") * lit(1.0e12))).as("exp_fp_rate"))
  }
  val o266: String = s"""
    WITH jp AS (${o58Over("documents", "0.0")}),
    pw AS (
      SELECT jaccard,
        jaccard * jaccard AS s2,
        (jaccard * jaccard) * (jaccard * jaccard) AS s4
      FROM jp),
    pw2 AS (
      SELECT jaccard, s2, s4, s4 * s4 AS s8, (s4 * s4) * (s4 * s4) AS s16,
        1.0 - jaccard AS t1, 1.0 - s2 AS u1, 1.0 - s4 AS v1,
        1.0 - s4 * s4 AS w1
      FROM pw),
    pw3 AS (
      SELECT jaccard,
        1.0 - (((t1 * t1) * (t1 * t1)) * ((t1 * t1) * (t1 * t1)))
            * (((t1 * t1) * (t1 * t1)) * ((t1 * t1) * (t1 * t1)))
          AS p16x1,
        1.0 - ((u1 * u1) * (u1 * u1)) * ((u1 * u1) * (u1 * u1)) AS p8x2,
        1.0 - (v1 * v1) * (v1 * v1) AS p4x4,
        1.0 - w1 * w1 AS p2x8,
        s16 AS p1x16
      FROM pw2),
    stacked AS (
      SELECT jaccard, 16 AS bands, 1 AS rows_per_band, p16x1 AS p FROM pw3
      UNION ALL
      SELECT jaccard, 8, 2, p8x2 FROM pw3
      UNION ALL
      SELECT jaccard, 4, 4, p4x4 FROM pw3
      UNION ALL
      SELECT jaccard, 2, 8, p2x8 FROM pw3
      UNION ALL
      SELECT jaccard, 1, 16, p1x16 FROM pw3)
    SELECT bands, rows_per_band,
      CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_above,
      CAST(SUM(CASE WHEN jaccard < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_below,
      CASE WHEN SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) > 0
        THEN CAST(SUM(CAST(CASE WHEN jaccard >= 0.5
               THEN CAST(FLOOR(p * 1.0e12) AS BIGINT) ELSE 0 END
               AS HUGEINT)) AS DOUBLE)
          / (CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
               AS DOUBLE) * 1.0e12) END AS exp_recall,
      CASE WHEN SUM(CASE WHEN jaccard < 0.5 THEN 1 ELSE 0 END) > 0
        THEN CAST(SUM(CAST(CASE WHEN jaccard < 0.5
               THEN CAST(FLOOR(p * 1.0e12) AS BIGINT) ELSE 0 END
               AS HUGEINT)) AS DOUBLE)
          / (CAST(SUM(CASE WHEN jaccard < 0.5 THEN 1 ELSE 0 END)
               AS DOUBLE) * 1.0e12) END AS exp_fp_rate
    FROM stacked GROUP BY bands, rows_per_band"""

  val queries: Map[String, Q] = Map(
    "q266_lsh_operating_points" -> q266LshOperatingPoints,
    "q253_dedup_scope" -> q253DedupScope,
    "q255_crosslang_leak" -> q255CrossLangLeak,
    "q213_max_shared_run" -> q213MaxSharedRun,
    "q216_dedup_truth_eval" -> q216DedupTruthEval,
    "q220_partition_agreement" -> q220PartitionAgreement,
    "q222_bbit_calibration" -> q222BbitCalibration,
    "q208_winnowing" -> q208Winnowing,
    "q56_minhash" -> q56MinHash,
    "q107_minhash_estimate" -> q107MinhashEstimate,
    "q156_source_overlap" -> q156SourceOverlap,
    "q157_edit_verify" -> q157EditVerify,
    "q57_lsh_buckets" -> q57LshBuckets,
    "q58_jaccard_pairs" -> q58JaccardPairs,
    "q59_simhash" -> q59SimHash,
    "q60_simhash_pairs" -> q60SimHashPairs,
    "q170_cosine_pairs" -> q170CosinePairs,
    "q174_containment_pairs" -> q174ContainmentPairs)

  val oracles: Map[String, String] = Map(
    "q266_lsh_operating_points" -> o266,
    "q253_dedup_scope" -> o253,
    "q255_crosslang_leak" -> o255,
    "q213_max_shared_run" -> o213,
    "q216_dedup_truth_eval" -> o216,
    "q220_partition_agreement" -> o220,
    "q222_bbit_calibration" -> o222,
    "q208_winnowing" -> o208,
    "q56_minhash" -> o56,
    "q107_minhash_estimate" -> o107,
    "q156_source_overlap" -> o156,
    "q157_edit_verify" -> o157,
    "q57_lsh_buckets" -> o57,
    "q58_jaccard_pairs" -> o58,
    "q59_simhash" -> o59,
    "q60_simhash_pairs" -> o60,
    "q170_cosine_pairs" -> o170,
    "q174_containment_pairs" -> o174)
}
