package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (`Array[Float]` 64-d).
  *
  * Float-parity rule: dot products are LEFT FOLDS over the element
  * order (Spark `aggregate`, DuckDB `list_reduce`) with every element
  * cast to double first — both engines then execute the identical IEEE
  * op sequence, so cosines are bit-identical and rank identically.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set
  * against the full table — a broadcast nested-loop join that scans
  * the big side once, the right baseline at any scale. The bucketed
  * variant (sign-LSH on leading dimensions) prunes the candidate set
  * by joining on the bucket key instead — the IVF/LSH "scale path".
  */
object VectorOps {
  type Q = (SparkSession, String) => DataFrame

  /** Left-fold dot product of two double-cast float arrays. */
  /** Dot product — the native codegen'd kernel
    * (`dot_f32_native`, [[graft.functions.VectorKernelsUtil]]); bit-equal to [[dotComposed]]
    * (same element widening, same left-to-right accumulation), pinned
    * by an EngineProperties ScalaCheck property. */
  private def dot(a: String, b: String): String =
    s"dot_f32_native($a, $b)"

  /** The composed higher-order spelling of [[dot]] — kept as the
    * parity witness (its lambdas run interpreted per element, which is
    * why the hot paths use the native kernel). */
  private[ops] def dotComposed(a: String, b: String): String =
    s"""aggregate(
          transform(sequence(1, size($a)), i ->
            CAST(element_at($a, i) AS DOUBLE) * CAST(element_at($b, i) AS DOUBLE)),
          CAST(0 AS DOUBLE), (acc, x) -> acc + x)"""

  /** DuckDB twin of [[dot]]. */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, len($a)), i ->
              CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
          (acc, x) -> acc + x)"""

  // ------------------------------------------------------------- stats
  /** Per-label embedding profile: count, dim, min/max L2 norm (min/max
    * of bit-identical doubles are exact across engines). */
  val q61NormStats: Q = (s, d) => {
    import s.implicits._
    Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        min(size($"embedding")).as("dim"),
        min($"norm").as("min_norm"),
        max($"norm").as("max_norm"))
  }
  val o61: String = s"""
    SELECT label, COUNT(*) AS n_vecs,
           MIN(len(embedding)) AS dim,
           MIN(norm) AS min_norm, MAX(norm) AS max_norm
    FROM (SELECT label, embedding,
            sqrt(${dotSql("embedding", "embedding")}) AS norm
          FROM embeddings)
    GROUP BY label"""

  // --------------------------------------------------------- brute kNN
  /** Brute-force cosine top-k: queries = vec_id % 100 = 0 AND
    * vec_id < 2500 (≤ 25 queries no matter how big the table grows —
    * a percentage-of-N query set would make the broadcast side scale
    * with the data and OOM executors at 100×; the exact baseline must
    * stay a CONSTANT-size broadcast), k = 5, ranked by (cosine desc,
    * vec_id asc). The exact baseline every ANN variant is measured
    * against; q63/q65 are the scale paths for large query sets. */
  val q62KnnBrute: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
    val q = e.filter($"vec_id" % 100 === 0 && $"vec_id" < 2500)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"norm".as("q_norm"))
    val c = e.select($"vec_id".as("neighbor_id"), $"embedding".as("n_emb"),
      $"norm".as("n_norm"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    broadcast(q).join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("cosine",
        expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"neighbor_id", $"rank", $"cosine")
  }
  val o62: String = s"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm
      FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${dotSql("q.embedding", "c.embedding")} / (q.norm * c.norm) AS cosine
      FROM e q JOIN e c ON q.vec_id % 100 = 0 AND q.vec_id < 2500
                       AND q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM pairs)
    WHERE rank <= 5"""

  // ------------------------------------------------------ bucketed ANN
  /** Sign-LSH bucketed ANN: bucket = sign bits of dims 1..4 (16
    * buckets); top-3 within the query's bucket only. Trades recall for
    * a 16× candidate cut — the partition-pruned scale path. */
  private val bucketExpr =
    """CAST(CASE WHEN element_at(embedding, 1) > 0 THEN 1 ELSE 0 END
         + CASE WHEN element_at(embedding, 2) > 0 THEN 2 ELSE 0 END
         + CASE WHEN element_at(embedding, 3) > 0 THEN 4 ELSE 0 END
         + CASE WHEN element_at(embedding, 4) > 0 THEN 8 ELSE 0 END AS BIGINT)"""
  private val bucketSql =
    """CAST(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
         + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
         + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
         + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END AS BIGINT)"""

  val q63AnnBucketed: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
      .withColumn("bucket", expr(bucketExpr))
    val q = e.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"norm".as("q_norm"), $"bucket")
    val c = e.select($"vec_id".as("neighbor_id"), $"embedding".as("n_emb"),
      $"norm".as("n_norm"), $"bucket")
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    broadcast(q).join(c, Seq("bucket"))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cosine",
        expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id", $"bucket", $"rank", $"cosine")
  }
  val o63: String = s"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm,
             $bucketSql AS bucket
      FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
        ${dotSql("q.embedding", "c.embedding")} / (q.norm * c.norm) AS cosine
      FROM e q JOIN e c ON q.bucket = c.bucket
       AND q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, bucket, rank, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM pairs)
    WHERE rank <= 3"""

  // ---------------------------------------------------- cosine near-dup
  /** Embedding-cosine near-duplicate pairs: same-label blocking (the
    * cluster id is the coarse quantizer), sampled ids, cosine ≥ 0.3.
    * At 100 TB the label comes from a trained IVF coarse quantizer;
    * the join stays keyed on it either way. */
  val q64CosineNearDup: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .filter($"vec_id" % 5 === 0)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
    val a = e.select($"label", $"vec_id".as("id_a"),
      $"embedding".as("emb_a"), $"norm".as("norm_a"))
    val b = e.select($"label", $"vec_id".as("id_b"),
      $"embedding".as("emb_b"), $"norm".as("norm_b"))
    a.join(b, Seq("label")).filter($"id_a" < $"id_b")
      .withColumn("cosine",
        expr(dot("emb_a", "emb_b")) / ($"norm_a" * $"norm_b"))
      .filter($"cosine" >= 0.3)
      .select($"label", $"id_a", $"id_b", $"cosine")
  }
  val o64: String = s"""
    WITH e AS (
      SELECT label, vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm
      FROM embeddings WHERE vec_id % 5 = 0)
    SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
      ${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm) >= 0.3"""

  // ------------------------------------------- k-NN dup clusters
  /** Near-duplicate CLUSTERS over the k-NN graph (k = 3) instead of
    * the full ε-graph: each near-dup participant keeps only its 3
    * strongest neighbors (cosine desc, id asc — deterministic under
    * the bit-identical [[dot]] fold), and components are computed
    * over the symmetric closure of those capped edges. This is the
    * PRODUCTION spelling of embedding dedup clustering: the round-9
    * ×1024 probe measured exactly why — an ε-clique of m
    * near-identical documents (templated/boilerplate families)
    * contributes C(m, 2) edges to q64's ε-graph (102M edges at 5M
    * docs on the pre-fix amplifier, 95% of q98's CC input), while the
    * k-NN graph caps it at k·m WITHOUT disconnecting the clique
    * (every member's strongest neighbors are fellow members, so the
    * clique stays one component). The trade is documented, not
    * hidden: sparse CHAINS of marginal pairs can split where the
    * ε-graph kept them bridged (a node with > k neighbors drops its
    * weakest links), which for dedup is the accepted behavior — weak
    * bridges between strong families are review material, not kill
    * evidence (q259's density audit is the detector for the inverse
    * problem).
    *
    * 100 TB design: edge volume is ≤ k·N by construction at ANY
    * clique size — the CC input stays linear where the ε-graph's is
    * quadratic in family size; the top-k rank is a window PARTITIONED
    * by node over its own candidates (bounded by the q64 cell size);
    * the component loop is [[CorpusOps.connectedComponents]]'s two-tier
    * layout (driver union-find under the cap, distributed label
    * propagation above it). The oracle recomputes components from the
    * same capped edges with a recursive CTE — an independent witness
    * of the fixpoint. */
  /** The top-3 capped near-dup edge set (src, dst) — q275's cluster
    * input, and the linear-volume embedding evidence lane
    * `CorpusOps.q276` swaps into the q98 union (round-9 verdict
    * "What's missing #2": the flagship's ε-graph lane is quadratic in
    * boilerplate-family size by construction; this lane is ≤ k·N at
    * any clique size). Directed rows after the cap (an edge may
    * survive from one endpoint's top-3 and not the other's); every
    * consumer treats them as undirected. */
  private[ops] def knnEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = q64CosineNearDup(s, d)
    val sym = pairs
      .select($"id_a".as("src"), $"id_b".as("dst"), $"cosine")
      .unionByName(pairs
        .select($"id_b".as("src"), $"id_a".as("dst"), $"cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"src").orderBy($"cosine".desc, $"dst".asc)
    sym
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"src", $"dst")
      .distinct()
  }

  /** The kp/ksym/knn CTE chain — the DuckDB twin of [[knnEdges]],
    * shared by [[o275]] and CorpusOps.o276. */
  private[ops] val knnCtes: String = s"""
    kp AS MATERIALIZED (${o64}),
    ksym AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst, cosine FROM kp
      UNION ALL
      SELECT id_b AS src, id_a AS dst, cosine FROM kp),
    knn AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst, row_number() OVER (PARTITION BY src
          ORDER BY cosine DESC, dst ASC) AS rk
        FROM ksym)
      WHERE rk <= 3)"""

  val q275KnnDupClusters: Q = (s, d) => {
    import s.implicits._
    val knn = knnEdges(s, d)
    val labels = CorpusOps.connectedComponents(knn)
    val sizes = labels.groupBy($"comp".as("cluster_id"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    labels.select($"doc_id", $"comp".as("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select($"doc_id", $"cluster_id", $"cluster_size")
  }
  val o275: String = s"""
    WITH RECURSIVE
    $knnCtes,
    kedges AS (
      SELECT DISTINCT src, dst FROM knn
      UNION
      SELECT DISTINCT dst AS src, src AS dst FROM knn),
    kreach(doc_id, r) AS (
      SELECT DISTINCT src, src FROM kedges
      UNION
      SELECT kreach.doc_id, kedges.dst
      FROM kreach JOIN kedges ON kedges.src = kreach.r),
    kcomp AS (
      SELECT doc_id, MIN(r) AS cluster_id FROM kreach GROUP BY doc_id),
    ksizes AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM kcomp GROUP BY cluster_id)
    SELECT c.doc_id, c.cluster_id, s.cluster_size
    FROM kcomp c JOIN ksizes s USING (cluster_id)"""

  // -------------------------------------------------- semantic dedup
  /** SemDeDup-style semantic deduplication census: within each
    * coarse-quantizer cell (`label`), a vector is dropped when some
    * LOWER-id vector in the same cell is closer than the cosine
    * threshold — keep-the-first with a deterministic id order, the
    * standard embedding-dedup rule. Emits the per-cell retention
    * census (total, dropped, kept, retention %).
    *
    * 100 TB design: the pair generation is quadratic only WITHIN a
    * cell — a real pipeline picks k ∝ N clusters so cell sizes stay
    * constant and the per-cell work is bounded (SemDeDup's own
    * regime); the join is keyed on the cell id, so the shuffle is the
    * cluster assignment, never all-pairs over the corpus. Retention
    * doubles derive from exact integer counts. */
  val q84SemanticDedup: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
    val a = e.select($"label", $"vec_id".as("id_a"),
      $"embedding".as("emb_a"), $"norm".as("norm_a"))
    val b = e.select($"label", $"vec_id".as("id_b"),
      $"embedding".as("emb_b"), $"norm".as("norm_b"))
    val dropped = a.join(b, Seq("label")).filter($"id_a" < $"id_b")
      .withColumn("cosine",
        expr(dot("emb_a", "emb_b")) / ($"norm_a" * $"norm_b"))
      .filter($"cosine" >= 0.3)
      .select($"id_b".as("vec_id")).distinct()
    e.join(dropped.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(coalesce($"is_dup", lit(0L))).cast("long").as("n_dropped"))
      .withColumn("n_kept", $"n_vecs" - $"n_dropped")
      .withColumn("retention_pct",
        $"n_kept".cast("double") * 100.0 / $"n_vecs".cast("double"))
  }
  val o84: String = s"""
    WITH e AS (
      SELECT label, vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm
      FROM embeddings),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm)
              >= 0.3),
    flagged AS (
      SELECT e.label,
             CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id)
    SELECT label, n_vecs, n_dropped, n_vecs - n_dropped AS n_kept,
      CAST(n_vecs - n_dropped AS DOUBLE) * 100.0 / CAST(n_vecs AS DOUBLE)
        AS retention_pct
    FROM (
      SELECT label, COUNT(*) AS n_vecs,
        CAST(SUM(is_dup) AS BIGINT) AS n_dropped
      FROM flagged GROUP BY label)"""

  // ------------------------------------------------------------- IVF
  /** IVF coarse quantization, fully in-engine: centroids = per-label
    * element-wise means (exact decimal sums over a posexplode, so
    * they're order-independent — the tiny training aggregate is the
    * only place the 64× explode appears, and its map-side combine
    * shrinks it to k×64 groups), then every vector assigned to its
    * nearest centroid by an IN-ROW argmin: centroids are packed into
    * one broadcast row of (c_label, vector) structs and the L2
    * distance is a left-fold `aggregate(zip_with(...))` per centroid —
    * no posexplode on the assignment path, so nothing is shuffled but
    * the final (label × cell) census. Distances are left folds in
    * element order on both engines → bit-identical doubles → identical
    * argmin. The trained-quantizer step of an IVF ANN index. */
  val q65IvfAssign: Q = (s, d) => {
    import s.implicits._
    val packed = packCentroids(labelCentroids(s, d))
    Tables.embeddings(s, d)
      .join(broadcast(packed))
      .withColumn("assigned", expr(s"$nearestCentroid.c_label"))
      .groupBy($"label", $"assigned")
      .agg(count(lit(1)).as("n_vecs"))
  }
  val o65: String = s"""
    WITH dims AS (
      SELECT vec_id, label, g.pos AS pos,
             CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM embeddings,
           (SELECT unnest(generate_series(1, 64)) AS pos) g),
    centroids AS (
      SELECT label AS c_label, pos,
             CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1, 2),
    carr AS (
      SELECT c_label, list(c ORDER BY pos) AS carr
      FROM centroids GROUP BY c_label),
    dist AS (
      SELECT em.vec_id, em.label, ca.c_label,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, 64), i ->
                   (CAST(em.embedding[i] AS DOUBLE) - ca.carr[i])
                     * (CAST(em.embedding[i] AS DOUBLE) - ca.carr[i]))),
               (acc, x) -> acc + x) AS d2
      FROM embeddings em, carr ca),
    assigned AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
        ORDER BY d2 ASC, c_label ASC) AS rn
      FROM dist)
    SELECT label, c_label AS assigned, COUNT(*) AS n_vecs
    FROM assigned WHERE rn = 1 GROUP BY 1, 2"""

  // ----------------------------------- semantic dedup, centroid path
  /** The LINEAR SemDeDup variant: instead of q84's within-cell pairs
    * (quadratic in cell size), each vector is scored by cosine against
    * its OWN cell centroid and dropped when it hugs the centroid too
    * closely (≥ 0.25 here) — prototypical near-duplicates go, outliers
    * stay. One broadcast row of per-cell centroid arrays (exact
    * decimal means, as in q65) and a single in-row fold per vector: no
    * pair generation at all, O(N·dim) total — the shape that actually
    * runs at 100 TB. */
  val q91SemDedupCentroid: Q = (s, d) => {
    import s.implicits._
    val packed = centroidArrays(Tables.embeddings(s, d), Seq($"label"))
    Tables.embeddings(s, d)
      .join(broadcast(packed), Seq("label"))
      .withColumn("cos_c",
        expr("dot_f32_native(embedding, carr)")
          / (sqrt(expr(dot("embedding", "embedding")))
            * sqrt(expr("dot_f32_native(carr, carr)"))))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"cos_c" >= 0.25, 1L).otherwise(0L)).cast("long")
          .as("n_dropped"))
      .withColumn("n_kept", $"n_vecs" - $"n_dropped")
      .withColumn("retention_pct",
        $"n_kept".cast("double") * 100.0 / $"n_vecs".cast("double"))
  }
  val o91: String = s"""
    WITH dims AS (
      SELECT label, g.pos AS pos,
             CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM embeddings,
           (SELECT unnest(generate_series(1, 64)) AS pos) g),
    centroids AS (
      SELECT label, pos,
             CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1, 2),
    carr AS (
      SELECT label, list(c ORDER BY pos) AS carr
      FROM centroids GROUP BY label),
    scored AS (
      SELECT em.label,
        list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, 64), i ->
              CAST(em.embedding[i] AS DOUBLE) * ca.carr[i])),
          (acc, x) -> acc + x)
        / (sqrt(${dotSql("em.embedding", "em.embedding")})
           * sqrt(list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(ca.carr, x -> x * x)),
               (acc, x) -> acc + x))) AS cos_c
      FROM embeddings em JOIN carr ca ON em.label = ca.label)
    SELECT label, n_vecs, n_dropped, n_vecs - n_dropped AS n_kept,
      CAST(n_vecs - n_dropped AS DOUBLE) * 100.0 / CAST(n_vecs AS DOUBLE)
        AS retention_pct
    FROM (
      SELECT label, COUNT(*) AS n_vecs,
        CAST(SUM(CASE WHEN cos_c >= 0.25 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dropped
      FROM scored GROUP BY label)"""

  // ------------------------------------------------------ quantization
  /** Symmetric int8 quantization for embedding storage: per-vector
    * scale = 127 / max|x|, elements rounded to int8 — 4× smaller at
    * rest, rehydrated as q/scale. Emits head elements + scale. */
  val q66QuantizeInt8: Q = (s, d) => {
    import s.implicits._
    val maxAbs = expr(
      "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
    val scale = when(maxAbs > 0.0, lit(127.0) / maxAbs).otherwise(0.0)
    val e = Tables.embeddings(s, d).withColumn("scale", scale)
    def qAt(i: Int) = expr(
      s"CAST(round(CAST(element_at(embedding, $i) AS DOUBLE) * scale)" +
        " AS INT)").as(s"q$i")
    e.select($"vec_id", $"scale", qAt(1), qAt(2), qAt(3), qAt(4))
  }
  val o66: String = """
    SELECT vec_id, scale,
      CAST(round(CAST(embedding[1] AS DOUBLE) * scale) AS INT) AS q1,
      CAST(round(CAST(embedding[2] AS DOUBLE) * scale) AS INT) AS q2,
      CAST(round(CAST(embedding[3] AS DOUBLE) * scale) AS INT) AS q3,
      CAST(round(CAST(embedding[4] AS DOUBLE) * scale) AS INT) AS q4
    FROM (
      SELECT vec_id, embedding,
        CASE WHEN m > 0.0 THEN 127.0 / m ELSE 0.0 END AS scale
      FROM (SELECT vec_id, embedding,
              list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) AS m
            FROM embeddings))"""

  // ------------------------------------------------- Lloyd iteration
  /** One full Lloyd (k-means) iteration over the corpus: assign every
    * vector to its nearest current centroid (q65's in-row argmin
    * against one broadcast centroid row), then re-center each cell as
    * the element-wise mean of its members, and report per cell the
    * population, the inertia (sum of squared member distances — the
    * k-means objective), and the centroid movement (L2 old→new — the
    * convergence signal a training loop thresholds on). This is the
    * iterate the IVF coarse-quantizer training (q65) runs to fixpoint.
    *
    * 100 TB design: the assignment is one broadcast-join pass with
    * in-row folds (no posexplode, nothing shuffled); it is
    * materialized ONCE (`localCheckpoint` — a real pipeline persists
    * the assignment between the assign and update passes) and feeds
    * both the census and the re-center. The update aggregate is the
    * only explode, map-side-combined down to k×64 groups. All sums
    * that cross rows go through exact decimals, so every double is
    * order-independent and bit-identical cross-engine. */
  /** The label-mean seed centroids (c_label, carr) — q102's update
    * target, and the offline-trained coarse quantizer the STREAMING
    * centroid maintenance ([[graft.streaming.CorpusStreaming
    * .maintainCentroids]]) keeps sufficient statistics against. */
  private[graft] def labelCentroids(s: SparkSession,
                                    d: String): DataFrame =
    centroidArrays(Tables.embeddings(s, d), Seq(col("label").as("c_label")))

  /** The exact per-dimension mean of `embedding` per group of `keys`
    * (no keys: the one global row) — (keys..., `out`, n) with `n` the
    * group's vector count. Each coordinate is a decimal(30,8) sum
    * divided once in double: order-independent and the oracles' exact
    * spelling. The 64× posexplode's map-side combine shrinks it to
    * groups×64 rows before the only exchange. */
  private[graft] def centroidArrays(vecs: DataFrame, keys: Seq[Column],
                                    out: String = "carr"): DataFrame = {
    val dims = vecs
      .select(keys :+ posexplode(col("embedding")).as(Seq("pos", "v")): _*)
      .withColumn("v", col("v").cast("double"))
    val keyCols = dims.columns.toSeq.dropRight(2).map(col)
    dims.groupBy(keyCols :+ col("pos"): _*)
      .agg((sum(col("v").cast("decimal(30,8)")).cast("double")
        / count(lit(1))).as("c"), count(lit(1)).as("n"))
      .groupBy(keyCols: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"),
        max(col("n")).as("n"))
      .select(keyCols ++ Seq(expr("transform(pc, x -> x.c)").as(out),
        col("n")): _*)
  }

  /** k centroids (c_label, carr) → one broadcastable row `cents` of
    * ordered structs. collect_list order is nondeterministic;
    * array_sort fixes it (c_label is unique). */
  private[graft] def packCentroids(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(struct(col("c_label"), col("carr"))))
      .as("cents"))

  /** In-row argmin of `embedding` over the packed `cents`: the
    * (d2, c_label) struct of the nearest centroid — struct ordering
    * gives the (d2 asc, c_label asc) tie-break in one array_min. The
    * 64-dim distance fold is the native l2sq kernel; the outer
    * transform over k centroids stays a (tiny) lambda. */
  private[graft] val nearestCentroid: String =
    """array_min(transform(cents, ct -> named_struct(
         'd2', l2sq_native(embedding, ct.carr),
         'c_label', ct.c_label)))"""

  val q102LloydStep: Q = (s, d) => {
    import s.implicits._
    val packedPer = labelCentroids(s, d)
    val packed = packCentroids(packedPer)
    val assigned = Tables.embeddings(s, d)
      .join(broadcast(packed))
      .withColumn("a", expr(nearestCentroid))
      .select($"vec_id", $"embedding",
        $"a.c_label".as("cell"), $"a.d2".as("d2"))
      .localCheckpoint(eager = false)
    val census = assigned.groupBy($"cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum($"d2".cast("decimal(30,8)")).cast("double").as("inertia"))
    val newc = centroidArrays(assigned, Seq($"cell"), "narr")
    census
      .join(newc, Seq("cell"))
      .join(broadcast(packedPer.select($"c_label".as("cell"), $"carr")),
        Seq("cell"))
      .withColumn("movement",
        sqrt(expr("l2sq_native(carr, narr)")))
      .select($"cell", $"n_vecs", $"inertia", $"movement")
  }
  val o102: String = s"""
    WITH dims AS (
      SELECT label, g.pos AS pos,
             CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM embeddings,
           (SELECT unnest(generate_series(1, 64)) AS pos) g),
    centroids AS (
      SELECT label AS c_label, pos,
             CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1, 2),
    carr AS (
      SELECT c_label, list(c ORDER BY pos) AS carr
      FROM centroids GROUP BY c_label),
    dist AS (
      SELECT em.vec_id, em.embedding, ca.c_label,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, 64), i ->
                   (CAST(em.embedding[i] AS DOUBLE) - ca.carr[i])
                     * (CAST(em.embedding[i] AS DOUBLE) - ca.carr[i]))),
               (acc, x) -> acc + x) AS d2
      FROM embeddings em, carr ca),
    a AS (
      SELECT vec_id, embedding, c_label AS cell, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY d2 ASC, c_label ASC) AS rn
        FROM dist)
      WHERE rn = 1),
    census AS (
      SELECT cell, COUNT(*) AS n_vecs,
        CAST(SUM(CAST(d2 AS DECIMAL(30,8))) AS DOUBLE) AS inertia
      FROM a GROUP BY cell),
    ndims AS (
      SELECT cell, g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM a, (SELECT unnest(generate_series(1, 64)) AS pos) g),
    newc AS (
      SELECT cell, pos,
        CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM ndims GROUP BY 1, 2),
    narr AS (SELECT cell, list(c ORDER BY pos) AS narr
             FROM newc GROUP BY cell)
    SELECT census.cell, census.n_vecs, census.inertia,
      sqrt(list_reduce(
        list_prepend(CAST(0 AS DOUBLE),
          list_transform(generate_series(1, 64), i ->
            (ca.carr[i] - na.narr[i]) * (ca.carr[i] - na.narr[i]))),
        (acc, x) -> acc + x)) AS movement
    FROM census
    JOIN narr na USING (cell)
    JOIN carr ca ON ca.c_label = census.cell"""

  // ------------------------------------------- product quantization
  private val PqM = 8 // subspaces
  private val PqD = 8 // dims per subspace
  private val PqK = 16 // codes per subspace

  /** Product-quantization encoding: the 64-dim embedding is split into
    * `PqM` contiguous 8-dim subvectors and each is snapped to its
    * nearest of `PqK` codebook entries (argmin L2, ties → lower code),
    * emitting the 8-byte PQ code word plus the total quantization
    * error — the memory layout behind IVF-PQ ANN indexes (q65 assigns
    * the coarse cell; this is the residual-free fine code). The
    * codebook here is the first `PqK` corpus vectors so both engines
    * derive it identically; a production index trains it with q102's
    * Lloyd iterate per subspace.
    *
    * 100 TB design: the codebook is a broadcast single-row literal
    * (PqK×64 doubles); encoding is pure in-row nested folds — no
    * explode, no shuffle, output at scan parallelism, exactly how a
    * petabyte index build streams codes to disk. Cross-subspace error
    * sums route through decimal(30,8) so the census is
    * order-independent and hash-stable cross-engine. */
  val q113PqEncode: Q = (s, d) => {
    import s.implicits._
    val codebook = Tables.embeddings(s, d)
      .filter($"vec_id" < PqK)
      .select($"vec_id".cast("int").as("code"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cvec"))
      .agg(array_sort(collect_list(struct($"code", $"cvec"))).as("cb"))
    val enc = Tables.embeddings(s, d)
      .join(broadcast(codebook))
      .withColumn("sub", expr(
        s"""transform(sequence(0, ${PqM - 1}), s ->
              array_min(transform(cb, c -> named_struct(
                'd2', l2sq_native(slice(embedding, s * $PqD + 1, $PqD),
                                  slice(c.cvec, s * $PqD + 1, $PqD)),
                'code', c.code))))"""))
      .withColumn("err", expr(
        """CAST(aggregate(sub, CAST(0 AS DECIMAL(30,8)),
             (a, x) -> CAST(a + CAST(x.d2 AS DECIMAL(30,8))
                            AS DECIMAL(30,8))) AS DOUBLE)"""))
    def codeAt(i: Int) =
      expr(s"element_at(sub, ${i + 1}).code").as(s"c$i")
    enc.select(Seq($"vec_id", $"label") ++
      (0 until PqM).map(codeAt) :+ $"err": _*)
  }
  val o113: String = s"""
    WITH cb AS (
      SELECT CAST(vec_id AS INT) AS code,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings WHERE vec_id < $PqK),
    dist AS (
      SELECT e.vec_id, e.label, g.s AS s, cb.code,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(generate_series(1, $PqD), i ->
            (CAST(e.embedding[s * $PqD + i] AS DOUBLE)
               - cb.cvec[s * $PqD + i])
            * (CAST(e.embedding[s * $PqD + i] AS DOUBLE)
               - cb.cvec[s * $PqD + i]))),
          (a, v) -> a + v) AS d2
      FROM embeddings e,
           (SELECT unnest(generate_series(0, ${PqM - 1})) AS s) g, cb),
    best AS (
      SELECT vec_id, label, s, code, d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
          ORDER BY d2 ASC, code ASC) AS rn
        FROM dist) WHERE rn = 1)
    SELECT vec_id, label,
      ${(0 until PqM).map(i =>
        s"MAX(CASE WHEN s = $i THEN code END) AS c$i").mkString(",\n      ")},
      CAST(SUM(CAST(d2 AS DECIMAL(30,8))) AS DOUBLE) AS err
    FROM best GROUP BY vec_id, label"""

  // ------------------------------------------------- IVF-PQ search
  private val ProbeIds = Seq(7L, 113L, 229L, 331L, 443L)
  private val NProbe = 2
  private val AnnK = 10

  /** End-to-end IVF-PQ approximate nearest-neighbor search with its
    * recall audit — the capstone that composes the index pieces built
    * separately: q65's coarse quantizer routes each of a CONSTANT
    * probe set of queries to its `NProbe` nearest cells, q113's PQ
    * codes give every candidate an 8-byte compressed representation,
    * and the asymmetric distance (query subvector → candidate's
    * codebook entry, the ADC of the PQ paper) ranks candidates without
    * ever touching their full vectors. Reported per query against the
    * exact brute-force top-10: candidates scanned, hits, recall@10 —
    * the accuracy/cost trade every ANN deployment is judged on.
    *
    * 100 TB design: the index build (cell + codes per vector) is ONE
    * corpus pass against two broadcast single-row literals, then
    * materialized — a real pipeline persists it partitioned BY CELL so
    * a probe reads only nprobe/k of the data (partition pruning does
    * the candidate cut below for free). Probing broadcasts the tiny
    * (query, cell) routing table; ADC is in-row against the broadcast
    * codebook; per-query top-k goes through the two-phase heap
    * operator, never a full sort. Cross-subspace ADC sums route
    * through decimal(30,8) (order-independent, engine-exact); the
    * ground-truth pass is the same constant-broadcast exact scan as
    * q62. */
  val q117IvfPqSearch: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    // coarse centroids (q65's construction) → one broadcast row
    val packed = packCentroids(labelCentroids(s, d))
      // single row, consumed by BOTH the index build and the query
      // routing — materialize so the 64× posexplode aggregate behind
      // it runs once
      .localCheckpoint(eager = false)
    // PQ codebook (q113's construction) → one broadcast row
    val codebook = emb.filter($"vec_id" < PqK)
      .select($"vec_id".cast("int").as("code"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cvec"))
      .agg(array_sort(collect_list(struct($"code", $"cvec"))).as("cb"))
      .localCheckpoint(eager = false) // consumed by the index build and the ADC pass
    // index build: coarse cell + PQ code word per vector, one pass
    val index = emb
      .join(broadcast(packed)).join(broadcast(codebook))
      .withColumn("cell", expr(s"$nearestCentroid.c_label"))
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${PqM - 1}), s ->
              array_min(transform(cb, c -> named_struct(
                'd2', l2sq_native(slice(embedding, s * $PqD + 1, $PqD),
                                  slice(c.cvec, s * $PqD + 1, $PqD)),
                'code', c.code))).code)"""))
      .select($"vec_id", $"cell", $"codes")
      .localCheckpoint(eager = false) // the persisted ANN index of a real pipeline
    val qset = emb.filter($"vec_id".isin(ProbeIds: _*))
      .select($"vec_id".as("query_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("q_emb"))
    // route each query to its NProbe nearest cells
    val routed = qset.join(broadcast(packed))
      .withColumn("probe", explode(expr(
        s"""transform(slice(array_sort(transform(cents, ct ->
              named_struct(
                'd2', l2sq_native(q_emb, ct.carr),
                'c_label', ct.c_label))), 1, $NProbe),
            x -> x.c_label)""")))
      .select($"query_id", $"q_emb", $"probe".as("cell"))
    // candidates = index entries in the probed cells (broadcast the
    // tiny routing table; with a cell-partitioned index this is
    // partition pruning)
    val cand = index.join(broadcast(routed), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
    val nCand = cand.groupBy($"query_id")
      .agg(count(lit(1)).as("n_candidates"))
    // asymmetric distance: query subvector vs the candidate's codebook
    // entry per subspace; decimal-routed cross-subspace sum
    val adc = cand.join(broadcast(codebook))
      .withColumn("adc", expr(
        s"""CAST(aggregate(
              transform(sequence(0, ${PqM - 1}), s ->
                l2sq_native(
                  slice(q_emb, s * $PqD + 1, $PqD),
                  slice(element_at(cb, element_at(codes, s + 1) + 1).cvec,
                        s * $PqD + 1, $PqD))),
              CAST(0 AS DECIMAL(30,8)),
              (a, x) -> CAST(a + CAST(x AS DECIMAL(30,8))
                             AS DECIMAL(30,8))) AS DOUBLE)"""))
    val annTop = graft.plans.TopK.perGroup(
      adc.select($"query_id", $"vec_id", $"adc"),
      Seq("query_id"), Seq(("adc", false), ("vec_id", false)), AnnK)
    // exact ground truth: constant-size broadcast of the query set
    val gt = graft.plans.TopK.perGroup(
      emb.select($"vec_id",
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
        .join(broadcast(qset), $"vec_id" =!= $"query_id")
        .withColumn("d2", expr("l2sq_native(emb, q_emb)"))
        .select($"query_id", $"vec_id", $"d2"),
      Seq("query_id"), Seq(("d2", false), ("vec_id", false)), AnnK)
    val hits = annTop.select($"query_id", $"vec_id")
      .join(gt.select($"query_id", $"vec_id"), Seq("query_id", "vec_id"))
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    nCand
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce($"n_hits", lit(0L)))
      .withColumn("recall",
        $"n_hits".cast("double") / lit(AnnK.toDouble))
      .select($"query_id", $"n_candidates", $"n_hits", $"recall")
  }
  val o117: String = {
    val ids = ProbeIds.mkString(", ")
    def l2(a: String, b: String, n: Int) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, $n), i ->
              ($a - $b) * ($a - $b))),
          (acc, v) -> acc + v)"""
    s"""
    WITH dims AS (
      SELECT label, g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM embeddings,
           (SELECT unnest(generate_series(1, 64)) AS pos) g),
    carr AS (
      SELECT c_label, list(c ORDER BY pos) AS carr FROM (
        SELECT label AS c_label, pos,
               CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
        FROM dims GROUP BY 1, 2)
      GROUP BY c_label),
    cb AS (
      SELECT CAST(vec_id AS INT) AS code,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings WHERE vec_id < $PqK),
    assigned AS (
      SELECT vec_id, c_label AS cell FROM (
        SELECT e.vec_id, ca.c_label,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            ${l2("CAST(e.embedding[i] AS DOUBLE)", "ca.carr[i]", 64)} ASC,
            ca.c_label ASC) AS rn
        FROM embeddings e, carr ca)
      WHERE rn = 1),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT e.vec_id, g.s AS s, cb.code,
          row_number() OVER (PARTITION BY e.vec_id, g.s ORDER BY
            ${l2(s"CAST(e.embedding[s * $PqD + i] AS DOUBLE)",
                 s"cb.cvec[s * $PqD + i]", PqD)} ASC,
            cb.code ASC) AS rn
        FROM embeddings e,
             (SELECT unnest(generate_series(0, ${PqM - 1})) AS s) g, cb)
      WHERE rn = 1),
    qset AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
      FROM embeddings WHERE vec_id IN ($ids)),
    routed AS (
      SELECT query_id, q_emb, c_label AS cell FROM (
        SELECT q.query_id, q.q_emb, ca.c_label,
          row_number() OVER (PARTITION BY q.query_id ORDER BY
            ${l2("q.q_emb[i]", "ca.carr[i]", 64)} ASC,
            ca.c_label ASC) AS rn
        FROM qset q, carr ca)
      WHERE rn <= $NProbe),
    cand AS (
      SELECT r.query_id, r.q_emb, a.vec_id
      FROM routed r JOIN assigned a ON a.cell = r.cell
      WHERE a.vec_id <> r.query_id),
    ncand AS (
      SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY 1),
    adc AS (
      SELECT c.query_id, c.vec_id,
        CAST(SUM(CAST(
          ${l2(s"c.q_emb[k.s * $PqD + i]", s"cb.cvec[k.s * $PqD + i]", PqD)}
          AS DECIMAL(30,8))) AS DOUBLE) AS adc
      FROM cand c
      JOIN codes k ON k.vec_id = c.vec_id
      JOIN cb ON cb.code = k.code
      GROUP BY c.query_id, c.vec_id),
    ann AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id, row_number() OVER (
          PARTITION BY query_id ORDER BY adc ASC, vec_id ASC) AS rn
        FROM adc)
      WHERE rn <= $AnnK),
    gt AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id, row_number() OVER (
          PARTITION BY q.query_id ORDER BY
            ${l2("CAST(e.embedding[i] AS DOUBLE)", "q.q_emb[i]", 64)} ASC,
            e.vec_id ASC) AS rn
        FROM embeddings e JOIN qset q ON e.vec_id <> q.query_id)
      WHERE rn <= $AnnK),
    hits AS (
      SELECT a.query_id, COUNT(*) AS n_hits
      FROM ann a JOIN gt ON gt.query_id = a.query_id
                        AND gt.vec_id = a.vec_id
      GROUP BY a.query_id)
    SELECT n.query_id, n.n_candidates,
      CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / ${AnnK.toDouble} AS recall
    FROM ncand n LEFT JOIN hits h ON h.query_id = n.query_id"""
  }

  // ---------------------------------------------- embedding outliers
  /** Embedding-space outlier census: every vector's squared distance
    * to its OWN label centroid, flagged when it exceeds 4× the label's
    * mean — the standard "does this embedding belong to its class"
    * screen that catches mislabeled rows, encoder failures, and OCR
    * garbage before they poison contrastive training. (q102 assigns to
    * the NEAREST centroid; this audits the GIVEN label.)
    *
    * Float parity: centroid means and mean_d2 follow the q102 cookbook
    * (exact decimal(30,8) sums → one double division); d2 is the same
    * zip_with fold on both engines; the ratio is a single IEEE
    * division of identical doubles.
    *
    * 100 TB design: centroids and per-label stats are labels-bounded
    * broadcasts; d2 is in-row codegen'd array math at scan
    * parallelism; the only exchanges are the two label-keyed censuses
    * (map-side combined, label cardinality-bounded). */
  val q124EmbedOutliers: Q = (s, d) => {
    import s.implicits._
    val packed = centroidArrays(Tables.embeddings(s, d), Seq($"label"))
    val dist = Tables.embeddings(s, d)
      .join(broadcast(packed), Seq("label"))
      .withColumn("d2", expr("l2sq_native(embedding, carr)"))
      .select($"vec_id", $"label", $"d2")
    val stats = dist.groupBy($"label")
      .agg((sum($"d2".cast("decimal(30,8)")).cast("double")
        / count(lit(1))).as("mean_d2"))
    dist.join(broadcast(stats), Seq("label"))
      .withColumn("ratio", $"d2" / $"mean_d2")
      .withColumn("is_outlier",
        when($"ratio" > 4.0, 1L).otherwise(0L))
      .select($"vec_id", $"label", $"d2", $"ratio", $"is_outlier")
  }
  val o124: String = """
    WITH dims AS (
      SELECT label, g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS pos) g),
    cent AS (
      SELECT label, pos,
        CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1, 2),
    carr AS (SELECT label, list(c ORDER BY pos) AS carr
             FROM cent GROUP BY label),
    dist AS (
      SELECT em.vec_id, em.label,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(generate_series(1, 64), i ->
            (CAST(em.embedding[i] AS DOUBLE) - ca.carr[i])
              * (CAST(em.embedding[i] AS DOUBLE) - ca.carr[i]))),
          (acc, x) -> acc + x) AS d2
      FROM embeddings em JOIN carr ca USING (label)),
    stats AS (
      SELECT label,
        CAST(SUM(CAST(d2 AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*)
          AS mean_d2
      FROM dist GROUP BY label)
    SELECT d.vec_id, d.label, d.d2, d.d2 / s.mean_d2 AS ratio,
      CAST(CASE WHEN d.d2 / s.mean_d2 > 4.0 THEN 1 ELSE 0 END AS BIGINT)
        AS is_outlier
    FROM dist d JOIN stats s USING (label)"""

  // ---------------------------------------------- contrastive triplets
  /** Contrastive-triplet mining: per anchor, the nearest same-LSH-
    * bucket neighbor becomes the POSITIVE (the presumed paraphrase /
    * augmentation pair) and the runner-up the HARD NEGATIVE — the
    * semi-hard triplet construction contrastive encoders train on,
    * with `margin` (pos−neg cosine) as the difficulty signal a
    * curriculum sampler sorts by. Anchors with fewer than two bucket
    * peers drop out (no triplet exists).
    *
    * 100 TB design: candidates come from the sign-LSH bucket join
    * (never all-pairs) keyed on the bucket — a shuffle join, no
    * broadcast growth; per-bucket cost is occupancy², which production
    * keeps constant by scaling the LSH bit count with log N (here 4
    * bits for the test corpus). The triplet assembly is ONE grouped
    * conditional aggregate over the rank≤2 rows — no second join, no
    * re-shuffle of embeddings. */
  val q126ContrastiveTriplets: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
      .withColumn("bucket", expr(bucketExpr))
    val a = e.select($"vec_id".as("anchor_id"), $"embedding".as("a_emb"),
      $"norm".as("a_norm"), $"bucket")
    val c = e.select($"vec_id".as("cand_id"), $"embedding".as("c_emb"),
      $"norm".as("c_norm"), $"bucket")
    val w = Window.partitionBy($"anchor_id")
      .orderBy($"cosine".desc, $"cand_id".asc)
    a.join(c, Seq("bucket"))
      .filter($"anchor_id" =!= $"cand_id")
      .withColumn("cosine",
        expr(dot("a_emb", "c_emb")) / ($"a_norm" * $"c_norm"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 2)
      .groupBy($"anchor_id")
      .agg(max(when($"rank" === 1, $"cand_id")).as("pos_id"),
        max(when($"rank" === 1, $"cosine")).as("pos_cos"),
        max(when($"rank" === 2, $"cand_id")).as("neg_id"),
        max(when($"rank" === 2, $"cosine")).as("neg_cos"),
        count(lit(1)).as("nc"))
      .filter($"nc" === 2)
      .withColumn("margin", $"pos_cos" - $"neg_cos")
      .select($"anchor_id", $"pos_id", $"pos_cos",
        $"neg_id", $"neg_cos", $"margin")
  }
  val o126: String = s"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm,
             $bucketSql AS bucket
      FROM embeddings),
    ranked AS (
      SELECT * FROM (
        SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
          ${dotSql("a.embedding", "c.embedding")} / (a.norm * c.norm)
            AS cosine,
          row_number() OVER (PARTITION BY a.vec_id
            ORDER BY ${dotSql("a.embedding", "c.embedding")}
                       / (a.norm * c.norm) DESC,
                     c.vec_id ASC) AS rank
        FROM e a JOIN e c ON a.bucket = c.bucket
         AND a.vec_id <> c.vec_id)
      WHERE rank <= 2)
    SELECT anchor_id,
      MAX(CASE WHEN rank = 1 THEN cand_id END) AS pos_id,
      MAX(CASE WHEN rank = 1 THEN cosine END) AS pos_cos,
      MAX(CASE WHEN rank = 2 THEN cand_id END) AS neg_id,
      MAX(CASE WHEN rank = 2 THEN cosine END) AS neg_cos,
      MAX(CASE WHEN rank = 1 THEN cosine END)
        - MAX(CASE WHEN rank = 2 THEN cosine END) AS margin
    FROM ranked GROUP BY anchor_id HAVING COUNT(*) = 2"""

  // --------------------------------------------- density (DBSCAN step)
  /** DBSCAN density-classification census: every vector is labeled
    * core (≥ `DbscanMinPts` ε-neighbors), border (non-core with a core
    * ε-neighbor), or noise, and the census reports the split per
    * coarse-quantizer cell. The ε-neighborhood is the cosine ball
    * cos ≥ [[DbscanEps]] (the corpus embeddings are unit-normalized,
    * so this is the L2 ball ‖a−b‖² ≤ 2−2·DbscanEps). This is the
    * density triage a curation pipeline runs before density-based
    * clustering or outlier pruning — core points seed clusters,
    * noise points are candidate outliers (the density twin of q124's
    * centroid-distance spelling).
    *
    * Neighbor search is blocked on the coarse-quantizer cell (`label`),
    * the q64 convention: exact within a cell, probe-1 across cells —
    * the standard scalable approximation (a full exact DBSCAN would
    * need an all-pairs join; production recalls the cross-cell edge
    * loss with a q117-style audit).
    *
    * 100 TB design: the pair join shuffles on the cell key only;
    * per-cell cost is occupancy², bounded by the quantizer's cell-size
    * cap. The pair set is localCheckpoint'd because it feeds BOTH the
    * degree census and the border (core-neighbor) semi-join — without
    * it the dot-product join executes twice. Everything downstream is
    * id-only (embeddings never shuffle past the first join). */
  private[graft] val DbscanEps = 0.3
  private[graft] val DbscanMinPts = 2

  val q212DbscanCensus: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
    val a = e.select($"vec_id".as("ia"), $"label",
      $"embedding".as("a_emb"), $"norm".as("a_norm"))
    val c = e.select($"vec_id".as("ib"), $"label",
      $"embedding".as("b_emb"), $"norm".as("b_norm"))
    val pairs = a.join(c, Seq("label"))
      .filter($"ia" =!= $"ib")
      .filter(expr(dot("a_emb", "b_emb")) / ($"a_norm" * $"b_norm")
        >= DbscanEps)
      .select($"ia", $"ib")
      .localCheckpoint(eager = false)
    val deg = pairs.groupBy($"ia").agg(count(lit(1)).as("n_nb"))
    val pts = e.select($"vec_id", $"label")
      .join(deg.withColumnRenamed("ia", "vec_id"), Seq("vec_id"), "left")
      .withColumn("n_nb", coalesce($"n_nb", lit(0L)))
    val coreIds = pts.filter($"n_nb" >= DbscanMinPts)
      .select($"vec_id".as("ib"))
    val borderIds = pairs.join(coreIds, Seq("ib"), "left_semi")
      .select($"ia".as("vec_id")).distinct()
      .withColumn("has_core_nb", lit(1L))
    pts.join(borderIds, Seq("vec_id"), "left")
      .withColumn("cls",
        when($"n_nb" >= DbscanMinPts, lit("core"))
          .when($"has_core_nb".isNotNull, lit("border"))
          .otherwise(lit("noise")))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_points"),
        sum(when($"cls" === "core", 1L).otherwise(0L))
          .cast("long").as("n_core"),
        sum(when($"cls" === "border", 1L).otherwise(0L))
          .cast("long").as("n_border"),
        sum(when($"cls" === "noise", 1L).otherwise(0L))
          .cast("long").as("n_noise"))
  }
  val o212: String = s"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm
      FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE ${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm)
        >= $DbscanEps),
    deg AS (
      SELECT e.vec_id, e.label, COALESCE(d.n_nb, 0) AS n_nb
      FROM e LEFT JOIN (SELECT ia, COUNT(*) AS n_nb FROM pairs
                        GROUP BY 1) d ON d.ia = e.vec_id),
    border AS (
      SELECT DISTINCT p.ia AS vec_id
      FROM pairs p JOIN deg dc
        ON dc.vec_id = p.ib AND dc.n_nb >= $DbscanMinPts),
    cls AS (
      SELECT dg.vec_id, dg.label,
        CASE WHEN dg.n_nb >= $DbscanMinPts THEN 'core'
             WHEN b.vec_id IS NOT NULL THEN 'border'
             ELSE 'noise' END AS cls
      FROM deg dg LEFT JOIN border b ON b.vec_id = dg.vec_id)
    SELECT label, COUNT(*) AS n_points,
      CAST(SUM(CASE WHEN cls = 'core' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_core,
      CAST(SUM(CASE WHEN cls = 'border' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_border,
      CAST(SUM(CASE WHEN cls = 'noise' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_noise
    FROM cls GROUP BY 1"""

  // --------------------------------------- retrieval quality metrics
  /** Ranking-quality audit of the sign-LSH bucketed ANN (q63's
    * candidate path) against the exact brute-force truth (q62's):
    * per query, recall@k, MRR (reciprocal rank of the first true
    * neighbor in the approximate ranking), and binary-relevance
    * NDCG@k. Recall says WHETHER the true neighbors surface; MRR/NDCG
    * say WHERE — an ANN index that returns the right set in the wrong
    * order still damages downstream k-NN consumers. q117 audits the
    * IVF-PQ path with recall only; this is the ranking-aware audit of
    * the LSH path.
    *
    * Float parity: the NDCG discounts 1/log2(i+1) are irrational, so
    * per-rank FIXED-POINT literals round(1e15/log2(i+1)) — computed
    * once in Scala and interpolated into BOTH engines' text — make
    * the DCG a bounded int64 sum (≤ k·1e15, order-independent); the
    * single divide by the ideal-DCG PREFIX literal for the query's
    * truth-set size (min(k, |truth|) — dividing by the full-k idcg
    * deflates perfect scores when fewer than k true neighbors exist)
    * happens at the end. MRR and recall are single divides of exact
    * integers, recall's denominator the same min(k, |truth|).
    *
    * 100 TB design: the query set is a constant-size broadcast (the
    * q62 rule); the truth pass is one broadcast-NLJ scan, the
    * candidate pass a bucket-keyed join; everything after the two
    * rank windows is id-only aggregation. */
  private val RetrK = 10
  private val discFp: IndexedSeq[Long] = (1 to RetrK).map(i =>
    math.round(1e15 / (math.log(i + 1.0) / math.log(2.0))))
  private def discCaseSql(rankCol: String): String =
    (1 to RetrK).map(i => s"WHEN $rankCol = $i THEN ${discFp(i - 1)}")
      .mkString("CASE ", " ", " ELSE 0 END")
  /** Ideal-DCG prefix sums: idcg for a truth set of n ≤ K neighbors
    * is the sum of the first n discounts — dividing by the full-K sum
    * when fewer than K true neighbors exist (a tiny or post-deletion
    * corpus) deflates NDCG below 1 even for a perfect index, the
    * round-6 ADVICE finding; recall has the same min(K, truth-size)
    * denominator. */
  private val idcgPrefFp: IndexedSeq[Long] =
    discFp.scanLeft(0L)(_ + _).tail
  private def idcgCaseSql(nCol: String): String =
    (1 to RetrK).map(i => s"WHEN $nCol = $i THEN ${idcgPrefFp(i - 1)}")
      .mkString("CASE ", " ", s" ELSE ${idcgPrefFp.last} END")

  val q215RetrievalMetrics: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
      .withColumn("bucket", expr(bucketExpr))
    val q = e.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"norm".as("q_norm"), $"bucket".as("q_bucket"))
    val c = e.select($"vec_id".as("neighbor_id"),
      $"embedding".as("n_emb"), $"norm".as("n_norm"), $"bucket")
    val wq = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    val truth = broadcast(q).join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("cosine",
        expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
      .withColumn("t_rank", row_number().over(wq))
      .filter($"t_rank" <= RetrK)
      .select($"query_id", $"neighbor_id", lit(1L).as("rel"))
    val truthN = truth.groupBy($"query_id")
      .agg(count(lit(1)).cast("long").as("n_truth"))
    val approx = broadcast(q).join(c,
        $"q_bucket" === $"bucket" && $"query_id" =!= $"neighbor_id")
      .withColumn("cosine",
        expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
      .withColumn("c_rank", row_number().over(wq))
      .filter($"c_rank" <= RetrK)
      .select($"query_id", $"neighbor_id", $"c_rank")
    val perq = approx
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .withColumn("rel", coalesce($"rel", lit(0L)))
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_cand"),
        sum($"rel").cast("long").as("n_hits"),
        sum($"rel" * expr(discCaseSql("c_rank"))).cast("long")
          .as("dcg_fp"),
        min(when($"rel" === 1L, $"c_rank")).as("first_hit_rank"))
    q.select($"query_id").join(perq, Seq("query_id"), "left")
      .join(truthN, Seq("query_id"), "left")
      .withColumn("nt", coalesce($"n_truth", lit(0L)))
      .select($"query_id",
        coalesce($"n_cand", lit(0L)).as("n_cand"),
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        when($"nt" > 0,
          coalesce($"n_hits", lit(0L)).cast("double") / $"nt")
          .otherwise(lit(0.0)).as("recall_at_k"),
        coalesce(lit(1).cast("double") / $"first_hit_rank",
          lit(0).cast("double")).as("mrr"),
        when($"nt" > 0,
          coalesce($"dcg_fp", lit(0L)).cast("double")
            / expr(idcgCaseSql("nt")))
          .otherwise(lit(0.0)).as("ndcg_at_k"))
  }
  val o215: String = s"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm,
             $bucketSql AS bucket
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding, norm, bucket
          FROM e WHERE vec_id % 50 = 0),
    truth AS (
      SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS rel FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.query_id
            ORDER BY ${dotSql("q.embedding", "c.embedding")}
                       / (q.norm * c.norm) DESC,
                     c.vec_id ASC) AS t_rank
        FROM q JOIN e c ON q.query_id <> c.vec_id)
      WHERE t_rank <= $RetrK),
    approx AS (
      SELECT query_id, neighbor_id, c_rank FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.query_id
            ORDER BY ${dotSql("q.embedding", "c.embedding")}
                       / (q.norm * c.norm) DESC,
                     c.vec_id ASC) AS c_rank
        FROM q JOIN e c ON q.bucket = c.bucket
                       AND q.query_id <> c.vec_id)
      WHERE c_rank <= $RetrK),
    rel AS (
      SELECT a.query_id, a.c_rank, COALESCE(t.rel, 0) AS rel
      FROM approx a LEFT JOIN truth t
        ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id),
    perq AS (
      SELECT query_id, COUNT(*) AS n_cand,
        CAST(SUM(rel) AS BIGINT) AS n_hits,
        CAST(SUM(rel * ${discCaseSql("c_rank")}) AS BIGINT) AS dcg_fp,
        MIN(CASE WHEN rel = 1 THEN c_rank END) AS first_hit_rank
      FROM rel GROUP BY 1),
    truth_n AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
      FROM truth GROUP BY 1)
    SELECT q.query_id,
      COALESCE(p.n_cand, 0) AS n_cand,
      COALESCE(p.n_hits, 0) AS n_hits,
      CASE WHEN COALESCE(t.n_truth, 0) > 0
        THEN CAST(COALESCE(p.n_hits, 0) AS DOUBLE) / t.n_truth
        ELSE CAST(0 AS DOUBLE) END AS recall_at_k,
      COALESCE(CAST(1 AS DOUBLE) / p.first_hit_rank,
        CAST(0 AS DOUBLE)) AS mrr,
      CASE WHEN COALESCE(t.n_truth, 0) > 0
        THEN CAST(COALESCE(p.dcg_fp, 0) AS DOUBLE)
          / (${idcgCaseSql("t.n_truth")})
        ELSE CAST(0 AS DOUBLE) END AS ndcg_at_k
    FROM q LEFT JOIN perq p ON p.query_id = q.query_id
    LEFT JOIN truth_n t ON t.query_id = q.query_id"""

  // ----------------------------------- embedding scatter / drift
  /** Embedding-space scatter decomposition (the ANOVA / LDA B-vs-W
    * split) per coarse cell: `between_d2` = squared distance from the
    * cell centroid to the GLOBAL centroid (how far the cell has
    * drifted from the corpus mean — the domain-shift signal a
    * training pipeline monitors when a new source lands), and
    * `within_mean_d2` = mean squared distance of the cell's vectors
    * to their own centroid (its internal spread — q124's denominator,
    * reported per cell). A cell whose between term dominates the
    * within term is a genuinely displaced domain, not just a noisy
    * one.
    *
    * Float parity: centroids via the q124 spelling (decimal(30,8)
    * per-dimension sums → ONE double divide), distances as in-row
    * l2sq folds over the centroid arrays (bit-identical IEEE
    * sequences), the within-mean via a decimal-routed sum of
    * per-vector doubles.
    *
    * 100 TB design: one (cell, dim)-keyed exchange builds all
    * centroids (map-side combined), the global array is a single
    * broadcast row (intended NLJ — whitelisted), the within pass is
    * one scan against broadcast centroids; nothing corpus-scale ever
    * sorts or pairs. */
  val q217EmbeddingDrift: Q = (s, d) => {
    import s.implicits._
    val cent = centroidArrays(Tables.embeddings(s, d), Seq($"label"))
    val global = centroidArrays(Tables.embeddings(s, d), Nil, "garr")
    // the within pass already aggregates at cell grain — it carries
    // the cell counts too (no third corpus scan just for n_vecs)
    val within = Tables.embeddings(s, d)
      .join(broadcast(cent), Seq("label"))
      .withColumn("d2", expr("l2sq_native(embedding, carr)"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        (sum($"d2".cast("decimal(30,8)")).cast("double")
          / count(lit(1))).as("within_mean_d2"))
    cent.crossJoin(broadcast(global))
      .withColumn("between_d2", expr("l2sq_native(carr, garr)"))
      .join(within, Seq("label"))
      .select($"label", $"n_vecs", $"between_d2", $"within_mean_d2")
  }
  val o217: String = """
    WITH dims AS (
      SELECT label, g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS pos) g),
    cent AS (
      SELECT label, pos,
        CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1, 2),
    carr AS (SELECT label, list(c ORDER BY pos) AS carr
             FROM cent GROUP BY label),
    gcent AS (
      SELECT pos,
        CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1),
    garr AS (SELECT list(c ORDER BY pos) AS garr FROM gcent),
    wdist AS (
      SELECT em.label,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(generate_series(1, 64), i ->
            (CAST(em.embedding[i] AS DOUBLE) - ca.carr[i])
              * (CAST(em.embedding[i] AS DOUBLE) - ca.carr[i]))),
          (acc, x) -> acc + x) AS d2
      FROM embeddings em JOIN carr ca USING (label)),
    within AS (
      SELECT label, COUNT(*) AS n_vecs,
        CAST(SUM(CAST(d2 AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*)
          AS within_mean_d2
      FROM wdist GROUP BY 1)
    SELECT c.label, w.n_vecs,
      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(generate_series(1, 64), i ->
          (c.carr[i] - g.garr[i]) * (c.carr[i] - g.garr[i]))),
        (acc, x) -> acc + x) AS between_d2,
      w.within_mean_d2
    FROM carr c CROSS JOIN garr g
    JOIN within w ON w.label = c.label"""

  // --------------------------------- per-shard distribution audit
  /** Shard embedding-distribution audit — q225 ∘ q217: are the
    * snake-draft training shards DISTRIBUTION-equivalent in embedding
    * space, not just token-balanced? Each source's documents land on
    * its q225 shard ([[ScaleOps.shardAssignments]]); per shard this
    * reports the q217 scatter split — between_d2 (shard centroid vs
    * global centroid: a shard that drifted from the corpus mean) and
    * within_mean_d2 (its internal spread) — plus source/vector
    * counts. A shard with outsized between_d2 concentrates a domain,
    * which breaks the i.i.d.-across-shards assumption data-parallel
    * training makes; the fix is re-dealing at finer grain, and this
    * is the query that says whether it's needed.
    *
    * Float parity: the q217/q124 conventions — per-dimension
    * decimal(30,8) sums → ONE double divide per centroid coordinate,
    * distances as in-row l2sq folds over sorted centroid arrays,
    * within-means decimal-routed.
    *
    * 100 TB design: the (source → shard) map is a census-sized
    * broadcast onto the doc scan (ids only — text never moves); the
    * embedding join is one 8-byte-keyed exchange; centroids build in
    * one (shard, dim)-keyed map-side-combined pass; the global array
    * is a single broadcast row (intended NLJ — whitelisted); the
    * within pass is one scan against broadcast centroids. */
  val q232ShardEmbeddingAudit: Q = (s, d) => {
    import s.implicits._
    // the |sources|-row assignment feeds the doc map AND the
    // per-shard source census — materialize the tiny frame once
    // instead of re-running its corpus token census per consumer
    val assign = ScaleOps.shardAssignments(s, d).localCheckpoint(eager = false)
    val docShard = Tables.documents(s, d).select($"doc_id", $"source")
      .join(broadcast(assign.select($"source", $"shard")),
        Seq("source"))
      .select($"doc_id".as("vec_id"), $"shard")
    val vecs = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      .join(docShard, Seq("vec_id"))
    val cent = centroidArrays(vecs, Seq($"shard"))
    val global = centroidArrays(vecs, Nil, "garr")
    val within = vecs
      .join(broadcast(cent), Seq("shard"))
      .withColumn("d2", expr("l2sq_native(embedding, carr)"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_vecs"),
        (sum($"d2".cast("decimal(30,8)")).cast("double")
          / count(lit(1))).as("within_mean_d2"))
    val nsrc = assign
      .groupBy($"shard").agg(count(lit(1)).as("n_sources"))
    cent.crossJoin(broadcast(global))
      .withColumn("between_d2", expr("l2sq_native(carr, garr)"))
      .join(within, Seq("shard"))
      .join(nsrc, Seq("shard"))
      .select($"shard", $"n_sources", $"n_vecs", $"between_d2",
        $"within_mean_d2")
  }
  val o232: String = s"""
    WITH ${ScaleOps.shardAssignSql},
    docshard AS (
      SELECT d.doc_id AS vec_id, a.shard
      FROM documents d JOIN assign a USING (source)),
    ve AS (
      SELECT ds.shard, e.embedding
      FROM embeddings e JOIN docshard ds USING (vec_id)),
    dims AS (
      SELECT shard, g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM ve, (SELECT unnest(generate_series(1, 64)) AS pos) g),
    cent AS (
      SELECT shard, pos,
        CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1, 2),
    carr AS (SELECT shard, list(c ORDER BY pos) AS carr
             FROM cent GROUP BY shard),
    gcent AS (
      SELECT pos,
        CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1),
    garr AS (SELECT list(c ORDER BY pos) AS garr FROM gcent),
    wdist AS (
      SELECT ve.shard,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(generate_series(1, 64), i ->
            (CAST(ve.embedding[i] AS DOUBLE) - ca.carr[i])
              * (CAST(ve.embedding[i] AS DOUBLE) - ca.carr[i]))),
          (acc, x) -> acc + x) AS d2
      FROM ve JOIN carr ca USING (shard)),
    within AS (
      SELECT shard, COUNT(*) AS n_vecs,
        CAST(SUM(CAST(d2 AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*)
          AS within_mean_d2
      FROM wdist GROUP BY 1),
    nsrc AS (SELECT shard, COUNT(*) AS n_sources
             FROM assign GROUP BY shard)
    SELECT c.shard, ns.n_sources, w.n_vecs,
      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(generate_series(1, 64), i ->
          (c.carr[i] - g.garr[i]) * (c.carr[i] - g.garr[i]))),
        (acc, x) -> acc + x) AS between_d2,
      w.within_mean_d2
    FROM carr c CROSS JOIN garr g
    JOIN within w ON w.shard = c.shard
    JOIN nsrc ns ON ns.shard = c.shard"""

  // --------------------------------- hybrid retrieval agreement
  /** Lexical↔semantic retrieval agreement at probe grain — the
    * hybrid-search calibration: for each probe document (the q215
    * probe set, vec_id ≡ 0 mod 50), compare its top-k LEXICAL
    * neighbors (most distinct shared terms, the sparse/BM25-family
    * signal) against its top-k SEMANTIC neighbors (exact embedding
    * cosine, the q62 baseline) and report the top-k set sizes,
    * overlap, and Jaccard. Low agreement means the two retrieval
    * modes surface different corpora — the number that decides
    * whether a RAG stack needs hybrid fusion or one mode suffices
    * (q147 measures pairwise agreement between DEDUP methods; this
    * is the retrieval-grain twin).
    *
    * Denominators follow the q215 review lesson: Jaccard is over the
    * actual retrieved sets (n_lex can be < k when fewer than k docs
    * share any term), never a hardcoded k.
    *
    * 100 TB design: the probe set is CONSTANT-size (the q62/q221
    * audit rule), so the lexical candidate pull — probe terms ⋈ the
    * term postings — costs Σ df over probe terms, linear per probe
    * like q62's declared truth scan; ranking windows are partitioned
    * by probe; the agreement join touches ≤ 2k rows per probe. */
  val q237HybridAgreement: Q = (s, d) => {
    import s.implicits._
    val terms = Tables.documents(s, d)
      .select($"doc_id",
        explode(array_distinct(split($"text", " "))).as("t"))
      .filter(length($"t") > 0)
    val seedTerms = terms.filter($"doc_id" % 50 === 0)
      .select($"doc_id".as("query_id"), $"t")
    val wl = Window.partitionBy($"query_id")
      .orderBy($"shared".desc, $"cand".asc)
    val lex = seedTerms
      .join(terms.withColumnRenamed("doc_id", "cand"), Seq("t"))
      .filter($"cand" =!= $"query_id")
      .groupBy($"query_id", $"cand")
      .agg(count(lit(1)).cast("long").as("shared"))
      .withColumn("r", row_number().over(wl))
      .filter($"r" <= RetrK)
      .select($"query_id", $"cand", lit(1L).as("in_lex"))
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
    val qv = e.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"norm".as("q_norm"))
    val cv = e.select($"vec_id".as("cand"), $"embedding".as("n_emb"),
      $"norm".as("n_norm"))
    val ws = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"cand".asc)
    val sem = broadcast(qv).join(cv, $"query_id" =!= $"cand")
      .withColumn("cosine",
        expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
      .withColumn("r", row_number().over(ws))
      .filter($"r" <= RetrK)
      .select($"query_id", $"cand", lit(1L).as("in_sem"))
    val per = lex.join(sem, Seq("query_id", "cand"), "full_outer")
      .groupBy($"query_id")
      .agg(coalesce(sum($"in_lex"), lit(0L)).cast("long").as("n_lex"),
        coalesce(sum($"in_sem"), lit(0L)).cast("long").as("n_sem"),
        coalesce(sum($"in_lex" * $"in_sem"), lit(0L)).cast("long")
          .as("n_overlap"))
    qv.select($"query_id").join(per, Seq("query_id"), "left")
      .select($"query_id",
        coalesce($"n_lex", lit(0L)).as("n_lex"),
        coalesce($"n_sem", lit(0L)).as("n_sem"),
        coalesce($"n_overlap", lit(0L)).as("n_overlap"),
        when(coalesce($"n_lex", lit(0L)) + coalesce($"n_sem", lit(0L))
          - coalesce($"n_overlap", lit(0L)) > 0,
          $"n_overlap".cast("double")
            / ($"n_lex" + $"n_sem" - $"n_overlap").cast("double"))
          .otherwise(lit(0.0)).as("topk_jaccard"))
  }
  val o237: String = s"""
    WITH terms AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      FROM documents),
    terms2 AS (SELECT doc_id, t FROM terms WHERE length(t) > 0),
    seedt AS (SELECT doc_id AS query_id, t FROM terms2
              WHERE doc_id % 50 = 0),
    lexsc AS (
      SELECT s.query_id, c.doc_id AS cand, COUNT(*) AS shared
      FROM seedt s JOIN terms2 c
        ON c.t = s.t AND c.doc_id <> s.query_id
      GROUP BY 1, 2),
    lex AS (
      SELECT query_id, cand, CAST(1 AS BIGINT) AS in_lex FROM (
        SELECT query_id, cand,
          row_number() OVER (PARTITION BY query_id
            ORDER BY shared DESC, cand ASC) AS r
        FROM lexsc)
      WHERE r <= $RetrK),
    e AS (
      SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm
      FROM embeddings),
    qv AS (SELECT vec_id AS query_id, embedding, norm FROM e
           WHERE vec_id % 50 = 0),
    sem AS (
      SELECT query_id, cand, CAST(1 AS BIGINT) AS in_sem FROM (
        SELECT q.query_id, c.vec_id AS cand,
          row_number() OVER (PARTITION BY q.query_id
            ORDER BY ${dotSql("q.embedding", "c.embedding")}
                       / (q.norm * c.norm) DESC,
                     c.vec_id ASC) AS r
        FROM qv q JOIN e c ON q.query_id <> c.vec_id)
      WHERE r <= $RetrK),
    per AS (
      SELECT COALESCE(l.query_id, s.query_id) AS query_id,
        CAST(COALESCE(SUM(l.in_lex), 0) AS BIGINT) AS n_lex,
        CAST(COALESCE(SUM(s.in_sem), 0) AS BIGINT) AS n_sem,
        CAST(COALESCE(SUM(l.in_lex * s.in_sem), 0) AS BIGINT)
          AS n_overlap
      FROM lex l FULL OUTER JOIN sem s
        ON s.query_id = l.query_id AND s.cand = l.cand
      GROUP BY 1)
    SELECT q.query_id,
      COALESCE(p.n_lex, 0) AS n_lex,
      COALESCE(p.n_sem, 0) AS n_sem,
      COALESCE(p.n_overlap, 0) AS n_overlap,
      CASE WHEN COALESCE(p.n_lex, 0) + COALESCE(p.n_sem, 0)
                - COALESCE(p.n_overlap, 0) > 0
        THEN CAST(p.n_overlap AS DOUBLE)
          / CAST(p.n_lex + p.n_sem - p.n_overlap AS DOUBLE)
        ELSE CAST(0 AS DOUBLE) END AS topk_jaccard
    FROM qv q LEFT JOIN per p ON p.query_id = q.query_id"""

  // ------------------------------------------- label-noise screen
  /** Label-noise screening by neighbor-majority disagreement (the
    * confident-learning shape): a vector is SUSPECT when the majority
    * label among its sign-LSH bucket peers disagrees with its own —
    * the cheap first pass a labeling-QA pipeline runs before paying
    * for exact-kNN re-checks or human review. q219 censuses confusable
    * label PAIRS; this flags individual candidate mislabels and
    * reports per label: total vectors, scored vectors (≥ [[MinPeers]]
    * bucket peers — singleton buckets carry no evidence), suspects,
    * and the suspect rate.
    *
    * Determinism: the majority is argmax over peer-adjusted counts
    * (own membership subtracted), ties broken toward the SMALLEST
    * label — spelled as a strict `>` fold over a label-sorted in-row
    * list here and as rank over (count DESC, label ASC) in the
    * oracle, which pick the same winner by construction.
    *
    * 100 TB design: one (bucket, label)-keyed census (map-side
    * combined), bucket label-lists bounded by |labels|; each vector
    * joins its bucket's tiny census row once (bucket-keyed exchange)
    * and the verdict is an in-row fold — no per-pair work, no
    * per-vector window. */
  private val MinPeers = 2L

  val q236LabelNoiseScreen: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"label", expr(bucketExpr).as("bucket"))
    val cens = e.groupBy($"bucket", $"label")
      .agg(count(lit(1)).as("c"))
    val blists = cens.groupBy($"bucket")
      .agg(sort_array(collect_list(struct($"label", $"c"))).as("lc"),
        sum($"c").cast("long").as("nb"))
    val verdicts = e.join(blists, Seq("bucket"))
      .filter($"nb" - 1 >= MinPeers)
      .withColumn("adj", expr(
        """transform(lc, x -> named_struct('lbl', x.label,
             'ac', x.c - CASE WHEN x.label = label THEN 1 ELSE 0 END))"""))
      .withColumn("maj", expr(
        """aggregate(adj,
             named_struct('lbl', CAST(NULL AS INT), 'ac', CAST(-1 AS BIGINT)),
             (acc, x) -> CASE WHEN x.ac > acc.ac THEN x ELSE acc END).lbl"""))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_scored"),
        sum(when($"maj" =!= $"label", 1L).otherwise(0L)).cast("long")
          .as("n_suspect"))
    e.groupBy($"label").agg(count(lit(1)).as("n_vecs"))
      .join(verdicts, Seq("label"), "left")
      .select($"label", $"n_vecs",
        coalesce($"n_scored", lit(0L)).as("n_scored"),
        coalesce($"n_suspect", lit(0L)).as("n_suspect"),
        when(coalesce($"n_scored", lit(0L)) > 0,
          $"n_suspect".cast("double") / $"n_scored".cast("double"))
          .otherwise(lit(0.0)).as("suspect_rate"))
  }
  val o236: String = s"""
    WITH e AS (
      SELECT vec_id, label, $bucketSql AS bucket FROM embeddings),
    cens AS (
      SELECT bucket, label, COUNT(*) AS c FROM e GROUP BY 1, 2),
    nb AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS nb
           FROM cens GROUP BY 1),
    adj AS (
      SELECT v.vec_id, v.label, cn.label AS peer_label,
        cn.c - CASE WHEN cn.label = v.label THEN 1 ELSE 0 END AS ac
      FROM e v JOIN cens cn ON cn.bucket = v.bucket),
    sel AS (
      SELECT vec_id, label, peer_label AS maj FROM (
        SELECT vec_id, label, peer_label, ac,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY ac DESC, peer_label ASC) AS r
        FROM adj)
      WHERE r = 1),
    eligible AS (
      SELECT v.vec_id, v.label
      FROM e v JOIN nb ON nb.bucket = v.bucket
      WHERE nb.nb - 1 >= $MinPeers),
    scored AS (
      SELECT el.label, COUNT(*) AS n_scored,
        CAST(SUM(CASE WHEN s.maj <> el.label THEN 1 ELSE 0 END)
          AS BIGINT) AS n_suspect
      FROM eligible el JOIN sel s ON s.vec_id = el.vec_id
      GROUP BY 1),
    tot AS (SELECT label, COUNT(*) AS n_vecs FROM e GROUP BY 1)
    SELECT t.label, t.n_vecs,
      COALESCE(sc.n_scored, 0) AS n_scored,
      COALESCE(sc.n_suspect, 0) AS n_suspect,
      CASE WHEN COALESCE(sc.n_scored, 0) > 0
        THEN CAST(sc.n_suspect AS DOUBLE) / CAST(sc.n_scored AS DOUBLE)
        ELSE CAST(0 AS DOUBLE) END AS suspect_rate
    FROM tot t LEFT JOIN scored sc ON sc.label = t.label"""

  // -------------------------------------- cross-label confusion census
  /** Cross-label high-similarity census — the mislabeling /
    * confusability audit: pairs of vectors in the SAME sign-LSH bucket
    * whose cosine clears the q64 near-dup threshold but whose labels
    * DISAGREE, counted per unordered label pair with the mean cosine.
    * q64 finds near-dups within a label; this surfaces the opposite
    * problem — label pairs the embedding space cannot separate, the
    * census a labeling QA or a coarse-quantizer retrain reads first.
    *
    * Float parity: cosines are the bit-identical in-row kernel folds;
    * the per-cell mean routes the double cosines through
    * decimal(30,8) (order-independent) with one divide at the end.
    *
    * 100 TB design: candidates come from the bucket-keyed join (q63's
    * layout — never all-pairs); the census aggregates id-free rows
    * keyed on the ≤ |labels|² pair space. */
  val q219LabelConfusion: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
      .withColumn("bucket", expr(bucketExpr))
    val a = e.select($"vec_id".as("ia"), $"label".as("label_a"),
      $"embedding".as("a_emb"), $"norm".as("a_norm"), $"bucket")
    val c = e.select($"vec_id".as("ib"), $"label".as("label_b"),
      $"embedding".as("b_emb"), $"norm".as("b_norm"), $"bucket")
    a.join(c, Seq("bucket"))
      .filter($"ia" < $"ib" && $"label_a" =!= $"label_b")
      .withColumn("cosine",
        expr(dot("a_emb", "b_emb")) / ($"a_norm" * $"b_norm"))
      .filter($"cosine" >= 0.3)
      .groupBy(least($"label_a", $"label_b").as("label_lo"),
        greatest($"label_a", $"label_b").as("label_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum($"cosine".cast("decimal(30,8)")).cast("double")
          / count(lit(1))).as("mean_cos"))
  }
  val o219: String = s"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm,
             $bucketSql AS bucket
      FROM embeddings),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
        ${dotSql("a.embedding", "b.embedding")} / (a.norm * b.norm)
          AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket
        AND a.vec_id < b.vec_id AND a.label <> b.label)
    SELECT least(label_a, label_b) AS label_lo,
      greatest(label_a, label_b) AS label_hi,
      COUNT(*) AS n_pairs,
      CAST(SUM(CAST(cosine AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*)
        AS mean_cos
    FROM pairs WHERE cosine >= 0.3 GROUP BY 1, 2"""

  // ------------------------------------- ANN under deletions
  /** Index maintenance under deletions: when a deletion batch removes
    * vectors (vec_id ≡ 0 mod 17, planted), an UN-MAINTAINED ANN index
    * keeps serving the deleted ids — this audit quantifies both
    * failure and fix. `stale_contamination` = share of the stale
    * index's top-k results that are deleted vectors (what users see
    * until the index is rebuilt or tombstoned);
    * `tombstone_recall_at_k` = recall of the tombstone-aware path
    * (same candidate lists, deleted ids filtered at query time — the
    * standard cheap fix) against the post-deletion exact truth. The
    * pair tells an index operator whether query-time tombstoning is
    * good enough or a rebuild is due.
    *
    * Float parity: both metrics are exact-integer ratios with one
    * divide each. The recall denominator is the post-deletion truth
    * ROW COUNT (Σ per-query min(k, truth size)), not k·n_queries —
    * a query with fewer than k surviving true neighbors would
    * otherwise deflate recall below 1 even for a perfect index (the
    * round-6 ADVICE finding, same fix as q215).
    *
    * 100 TB design: candidates ride the bucket-keyed join (q63), the
    * truth pass the q62 constant-broadcast scan (intended NLJ —
    * whitelisted); the deleted-id check is a join flag on the 8-byte
    * id, never a second vector scan. */
  private val AnnDelK = 10

  val q230AnnTombstones: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
      .withColumn("bucket", expr(bucketExpr))
      .withColumn("deleted", ($"vec_id" % 17 === 0).cast("boolean"))
    val q = e.filter($"vec_id" % 50 === 0 && !$"deleted")
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"norm".as("q_norm"), $"bucket".as("q_bucket"))
    val c = e.select($"vec_id".as("neighbor_id"),
      $"embedding".as("n_emb"), $"norm".as("n_norm"), $"bucket",
      $"deleted")
    val wq = Window.partitionBy($"query_id")
      .orderBy($"cosine".desc, $"neighbor_id".asc)
    // stale index: candidate lists still CONTAIN deleted vectors
    val stale = broadcast(q).join(c,
        $"q_bucket" === $"bucket" && $"query_id" =!= $"neighbor_id")
      .withColumn("cosine",
        expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
      .withColumn("r", row_number().over(wq))
      .filter($"r" <= AnnDelK)
    // tombstone-aware: same lists, deleted filtered BEFORE ranking
    val tomb = broadcast(q).join(c,
        $"q_bucket" === $"bucket" && $"query_id" =!= $"neighbor_id"
          && !$"deleted")
      .withColumn("cosine",
        expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
      .withColumn("r", row_number().over(wq))
      .filter($"r" <= AnnDelK)
      .select($"query_id", $"neighbor_id")
    // post-deletion exact truth (q62's constant-broadcast scan)
    val truth = broadcast(q).join(c.filter(!$"deleted"),
        $"query_id" =!= $"neighbor_id")
      .withColumn("cosine",
        expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
      .withColumn("r", row_number().over(wq))
      .filter($"r" <= AnnDelK)
      .select($"query_id", $"neighbor_id", lit(1L).as("rel"))
    val nq = q.agg(count(lit(1)).as("n_queries"))
    val staleStats = stale.agg(
      sum(when($"deleted", 1L).otherwise(0L)).cast("long")
        .as("n_stale_hits"),
      count(lit(1)).as("n_stale_results"))
    val truthTot = truth.agg(count(lit(1)).as("n_truth"))
    val tombStats = tomb
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .agg(coalesce(sum($"rel"), lit(0L)).cast("long").as("n_hits"),
        count(lit(1)).as("n_tomb_results"))
    nq.crossJoin(staleStats).crossJoin(tombStats).crossJoin(truthTot)
      .select($"n_queries", $"n_stale_hits",
        ($"n_stale_hits".cast("double") / $"n_stale_results")
          .as("stale_contamination"),
        when($"n_truth" > 0, $"n_hits".cast("double") / $"n_truth")
          .otherwise(lit(0.0)).as("tombstone_recall_at_k"))
  }
  val o230: String = s"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm,
             $bucketSql AS bucket,
             vec_id % 17 = 0 AS deleted
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding, norm, bucket
          FROM e WHERE vec_id % 50 = 0 AND NOT deleted),
    stale AS (
      SELECT query_id, neighbor_id, deleted FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id, c.deleted,
          row_number() OVER (PARTITION BY q.query_id
            ORDER BY ${dotSql("q.embedding", "c.embedding")}
                       / (q.norm * c.norm) DESC,
                     c.vec_id ASC) AS r
        FROM q JOIN e c ON q.bucket = c.bucket
                       AND q.query_id <> c.vec_id)
      WHERE r <= $AnnDelK),
    tomb AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.query_id
            ORDER BY ${dotSql("q.embedding", "c.embedding")}
                       / (q.norm * c.norm) DESC,
                     c.vec_id ASC) AS r
        FROM q JOIN e c ON q.bucket = c.bucket
                       AND q.query_id <> c.vec_id AND NOT c.deleted)
      WHERE r <= $AnnDelK),
    truth AS (
      SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS rel FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.query_id
            ORDER BY ${dotSql("q.embedding", "c.embedding")}
                       / (q.norm * c.norm) DESC,
                     c.vec_id ASC) AS r
        FROM q JOIN e c ON q.query_id <> c.vec_id AND NOT c.deleted)
      WHERE r <= $AnnDelK),
    nq AS (SELECT COUNT(*) AS n_queries FROM q),
    tt AS (SELECT COUNT(*) AS n_truth FROM truth),
    ss AS (
      SELECT CAST(SUM(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT)
          AS n_stale_hits,
        COUNT(*) AS n_stale_results
      FROM stale),
    ts AS (
      SELECT CAST(COALESCE(SUM(t.rel), 0) AS BIGINT) AS n_hits,
        COUNT(*) AS n_tomb_results
      FROM tomb
      LEFT JOIN truth t ON t.query_id = tomb.query_id
                       AND t.neighbor_id = tomb.neighbor_id)
    SELECT nq.n_queries, ss.n_stale_hits,
      CAST(ss.n_stale_hits AS DOUBLE) / ss.n_stale_results
        AS stale_contamination,
      CASE WHEN tt.n_truth > 0
        THEN CAST(ts.n_hits AS DOUBLE) / tt.n_truth
        ELSE CAST(0 AS DOUBLE) END AS tombstone_recall_at_k
    FROM nq CROSS JOIN ss CROSS JOIN ts CROSS JOIN tt"""

  // --------------------------------- scalar-quantization audits
  /** Reconstruction-error audit of q66's symmetric per-vector int8
    * scheme (scale = 127/max|x|, the storage lane of a 4×-compressed
    * vector index): per label, the per-element MSE and the worst
    * per-vector squared error after a quantize→dequantize round trip —
    * the "is int8 safe for THIS corpus" number an index build checks
    * before committing to compressed storage (q113/q117 audit the PQ
    * lane the same way via `err`).
    *
    * 100 TB design: one corpus pass, all per-vector work in-row (the
    * quantize, dequantize, and error fold never leave the row);
    * cross-row sums route through decimal(30,8) so the census is
    * order-independent and hash-stable cross-engine; output is
    * |labels| rows. */
  val q242Sq8ErrorAudit: Q = (s, d) => {
    import s.implicits._
    val maxAbs = expr(
      "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
    val scale = when(maxAbs > 0.0, lit(127.0) / maxAbs).otherwise(0.0)
    val errDec = expr(
      """CASE WHEN scale = 0.0 THEN CAST(0 AS DECIMAL(30,8)) ELSE
           aggregate(sequence(1, size(embedding)),
             CAST(0 AS DECIMAL(30,8)),
             (a, i) -> CAST(a + CAST(
               (CAST(element_at(embedding, i) AS DOUBLE)
                 - CAST(CAST(round(CAST(element_at(embedding, i) AS DOUBLE)
                     * scale) AS INT) AS DOUBLE) / scale)
               * (CAST(element_at(embedding, i) AS DOUBLE)
                 - CAST(CAST(round(CAST(element_at(embedding, i) AS DOUBLE)
                     * scale) AS INT) AS DOUBLE) / scale)
               AS DECIMAL(30,8)) AS DECIMAL(30,8)))
         END""")
    Tables.embeddings(s, d)
      .withColumn("scale", scale)
      .withColumn("err2", errDec)
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum($"err2").as("sum_err2"),
        max($"err2".cast("double")).as("max_err2"))
      .select($"label", $"n_vecs",
        (col("sum_err2").cast("double")
          / (col("n_vecs").cast("double") * lit(64.0))).as("mse"),
        $"max_err2")
  }
  val o242: String = """
    WITH scaled AS (
      SELECT label,
        CASE WHEN m > 0.0 THEN 127.0 / m ELSE 0.0 END AS scale,
        embedding
      FROM (SELECT label, embedding,
              list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) AS m
            FROM embeddings)),
    errs AS (
      SELECT label,
        CASE WHEN scale = 0.0 THEN CAST(0 AS DECIMAL(30,8)) ELSE
          list_reduce(
            list_prepend(CAST(0 AS DECIMAL(30,8)),
              list_transform(generate_series(1, len(embedding)), i ->
                CAST((CAST(embedding[i] AS DOUBLE)
                    - CAST(CAST(round(CAST(embedding[i] AS DOUBLE)
                        * scale) AS INT) AS DOUBLE) / scale)
                  * (CAST(embedding[i] AS DOUBLE)
                    - CAST(CAST(round(CAST(embedding[i] AS DOUBLE)
                        * scale) AS INT) AS DOUBLE) / scale)
                  AS DECIMAL(30,8)))),
            (a, x) -> CAST(a + x AS DECIMAL(30,8)))
        END AS err2
      FROM scaled)
    SELECT label, COUNT(*) AS n_vecs,
      CAST(SUM(err2) AS DOUBLE)
        / (CAST(COUNT(*) AS DOUBLE) * 64.0) AS mse,
      MAX(CAST(err2 AS DOUBLE)) AS max_err2
    FROM errs GROUP BY label"""

  /** Retrieval-agreement audit of the int8 lane: for q62's probe set,
    * the exact float-cosine top-10 vs the ASYMMETRIC int8 top-10
    * (float query against dequantized candidates — the standard SQ
    * search), reported per probe as overlap@10 — the end-to-end
    * "does 4× compression change what retrieval returns" number
    * (q242 measures geometry error; ranking can survive or break
    * independently of it). Denominators are the ACTUAL exact-set
    * sizes (the q215 lesson).
    *
    * 100 TB design: probes are one broadcast row set; candidate
    * dequantization is in-row BEFORE the pair join (never per pair);
    * both top-10s go through the two-phase heap operator
    * (`plans/TopKPlan`) — partial k-bounded heaps, never a
    * partition sort. */
  val q243Sq8Agreement: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
    val q = e.filter($"vec_id" % 100 === 0 && $"vec_id" < 2500)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"norm".as("q_norm"))
    val maxAbs = expr(
      "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
    val c = e
      .withColumn("scale",
        when(maxAbs > 0.0, lit(127.0) / maxAbs).otherwise(0.0))
      .withColumn("dq", expr(
        """transform(embedding, x -> CASE WHEN scale = 0.0 THEN 0.0
             ELSE CAST(CAST(round(CAST(x AS DOUBLE) * scale) AS INT)
                    AS DOUBLE) / scale END)"""))
      .withColumn("dq_norm", sqrt(expr(
        """aggregate(dq, CAST(0 AS DOUBLE),
             (a, x) -> a + x * x)""")))
      .select($"vec_id".as("neighbor_id"), $"embedding".as("n_emb"),
        $"norm".as("n_norm"), $"dq", $"dq_norm")
    val pairs = broadcast(q).join(c, $"query_id" =!= $"neighbor_id")
      .withColumn("cos_e",
        expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
      .withColumn("cos_q", expr(
        """aggregate(sequence(1, size(q_emb)), CAST(0 AS DOUBLE),
             (a, i) -> a + CAST(element_at(q_emb, i) AS DOUBLE)
                           * element_at(dq, i))""")
        / ($"q_norm" * $"dq_norm"))
      .select($"query_id", $"neighbor_id", $"cos_e", $"cos_q")
      // both rankings read the same pair frame — materialize it once
      // rather than re-running the 25×N fold per top-k pass
      .localCheckpoint(eager = false)
    val topE = graft.plans.TopK.perGroup(
      pairs.select($"query_id", $"neighbor_id", $"cos_e"),
      Seq("query_id"), Seq(("cos_e", true), ("neighbor_id", false)), 10)
    val topQ = graft.plans.TopK.perGroup(
      pairs.select($"query_id", $"neighbor_id", $"cos_q"),
      Seq("query_id"), Seq(("cos_q", true), ("neighbor_id", false)), 10)
    topE.select($"query_id", $"neighbor_id", lit(1L).as("in_e"))
      .join(topQ.select($"query_id", $"neighbor_id", lit(1L).as("in_q")),
        Seq("query_id", "neighbor_id"), "full_outer")
      .groupBy($"query_id")
      .agg(sum(coalesce($"in_e", lit(0L))).cast("long").as("n_top"),
        sum(coalesce($"in_e", lit(0L)) * coalesce($"in_q", lit(0L)))
          .cast("long").as("n_overlap"))
      .withColumn("agreement",
        col("n_overlap").cast("double") / col("n_top").cast("double"))
  }
  val o243: String = s"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm
      FROM embeddings),
    c AS (
      SELECT vec_id, embedding, norm,
        CASE WHEN m > 0.0 THEN 127.0 / m ELSE 0.0 END AS scale
      FROM (SELECT vec_id, embedding, norm,
              list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) AS m
            FROM e)),
    cd AS (
      SELECT vec_id, embedding, norm,
        list_transform(embedding, x -> CASE WHEN scale = 0.0 THEN 0.0
          ELSE CAST(CAST(round(CAST(x AS DOUBLE) * scale) AS INT)
                 AS DOUBLE) / scale END) AS dq
      FROM c),
    cdn AS (
      SELECT vec_id, embedding, norm, dq,
        sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(dq, x -> x * x)), (a, x) -> a + x)) AS dq_norm
      FROM cd),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ${dotSql("q.embedding", "c.embedding")} / (q.norm * c.norm)
          AS cos_e,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(generate_series(1, len(q.embedding)), i ->
            CAST(q.embedding[i] AS DOUBLE) * c.dq[i])),
          (a, x) -> a + x) / (q.norm * c.dq_norm) AS cos_q
      FROM e q JOIN cdn c ON q.vec_id % 100 = 0 AND q.vec_id < 2500
                         AND q.vec_id <> c.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cos_e DESC, neighbor_id ASC) AS re,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cos_q DESC, neighbor_id ASC) AS rq
      FROM pairs)
    SELECT query_id,
      CAST(SUM(CASE WHEN re <= 10 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_top,
      CAST(SUM(CASE WHEN re <= 10 AND rq <= 10 THEN 1 ELSE 0 END)
        AS BIGINT) AS n_overlap,
      CAST(SUM(CASE WHEN re <= 10 AND rq <= 10 THEN 1 ELSE 0 END)
          AS DOUBLE)
        / CAST(SUM(CASE WHEN re <= 10 THEN 1 ELSE 0 END) AS DOUBLE)
        AS agreement
    FROM ranked GROUP BY query_id"""

  // --------------------------------- IVF probe-count sweep
  /** The ANN tuning curve: IVF-FLAT recall@10 and scan cost for
    * nprobe ∈ {1, 2, 4} over q62's probe set — per nprobe, how many
    * candidates the index actually scans (the cost axis) and how much
    * of the exact top-10 survives (the accuracy axis). q117 audits
    * ONE operating point of the composed IVF-PQ index; this sweeps
    * the routing knob an index deployment tunes first. Overlap sums
    * stay exact int64; the one division per report row happens last.
    *
    * 100 TB design: cell routing is in-row against the broadcast
    * centroid row (queries route to their 4 nearest cells in one
    * array_sort); the candidate cut is an EQUI join between the
    * corpus (tagged with its assigned cell, one in-row argmin pass)
    * and the ≤|probes|·4-row routing table — partition pruning does
    * this for free when the index is persisted partitioned by cell;
    * per-(query, nprobe) top-10s ride the two-phase heap operator;
    * the exact-truth pass is q62's declared constant-probe broadcast. */
  val q249NprobeSweep: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
    val packed = packCentroids(labelCentroids(s, d))
      .localCheckpoint(eager = false) // consumed by routing AND corpus assignment
    val queries0 = emb
      .filter($"vec_id" % 100 === 0 && $"vec_id" < 2500)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"norm".as("q_norm"))
    // in-row routing: each query's 4 nearest cells, rank-tagged
    val routing = queries0.join(broadcast(packed))
      .select($"query_id", posexplode(expr(
        """slice(array_sort(transform(cents, ct -> named_struct(
             'd2', l2sq_native(q_emb, ct.carr),
             'c_label', ct.c_label))), 1, 4)"""))
        .as(Seq("p", "cc")))
      .select($"query_id", $"cc.c_label".as("cell"),
        ($"p" + 1).cast("long").as("cellrank"))
    val cands = emb.join(broadcast(packed))
      .withColumn("cell", expr(s"$nearestCentroid.c_label"))
      .select($"vec_id".as("neighbor_id"), $"embedding".as("n_emb"),
        $"norm".as("n_norm"), $"cell")
    val pairs = cands.join(broadcast(routing), Seq("cell"))
      .filter($"query_id" =!= $"neighbor_id")
      .join(broadcast(queries0), Seq("query_id"))
      .withColumn("cosine",
        expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
      .select($"query_id", $"neighbor_id", $"cellrank", $"cosine")
      .localCheckpoint(eager = false) // three nprobe cuts read the same pair frame
    val truth = graft.plans.TopK.perGroup(
      broadcast(queries0).join(
        emb.select($"vec_id".as("neighbor_id"),
          $"embedding".as("n_emb"), $"norm".as("n_norm")),
        $"query_id" =!= $"neighbor_id")
        .withColumn("cosine",
          expr(dot("q_emb", "n_emb")) / ($"q_norm" * $"n_norm"))
        .select($"query_id", $"neighbor_id", $"cosine"),
      Seq("query_id"), Seq(("cosine", true), ("neighbor_id", false)), 10)
      .select($"query_id", $"neighbor_id")
      .localCheckpoint(eager = false) // one truth pass serves all three cuts
    val sweeps = Seq(1L, 2L, 4L).map { np =>
      val cut = pairs.filter($"cellrank" <= np)
      val top = graft.plans.TopK.perGroup(
        cut.select($"query_id", $"neighbor_id", $"cosine"),
        Seq("query_id"),
        Seq(("cosine", true), ("neighbor_id", false)), 10)
      val overlap = top.join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("total_overlap"))
      val scanned = cut.agg(count(lit(1)).as("total_candidates"))
      val nq = queries0.agg(count(lit(1)).as("n_queries"))
      overlap.join(broadcast(scanned)).join(broadcast(nq))
        .select(lit(np).as("nprobe"), $"n_queries",
          $"total_candidates", $"total_overlap",
          ($"total_overlap".cast("double")
            / ($"n_queries".cast("double") * lit(10.0)))
            .as("mean_recall"))
    }
    sweeps.reduce(_ unionByName _)
  }
  val o249: String = s"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             sqrt(${dotSql("embedding", "embedding")}) AS norm
      FROM embeddings),
    dims AS (
      SELECT label, g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM embeddings,
           (SELECT unnest(generate_series(1, 64)) AS pos) g),
    centroids AS (
      SELECT label AS c_label, pos,
             CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1, 2),
    carr AS (
      SELECT c_label, list(c ORDER BY pos) AS carr
      FROM centroids GROUP BY c_label),
    q AS (
      SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
      FROM e WHERE vec_id % 100 = 0 AND vec_id < 2500),
    qcell AS (
      SELECT query_id, c_label AS cell,
        CAST(row_number() OVER (PARTITION BY query_id
          ORDER BY d2 ASC, c_label ASC) AS BIGINT) AS cellrank
      FROM (
        SELECT q.query_id, ca.c_label,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, 64), i ->
              (CAST(q.q_emb[i] AS DOUBLE) - ca.carr[i])
                * (CAST(q.q_emb[i] AS DOUBLE) - ca.carr[i]))),
            (acc, x) -> acc + x) AS d2
        FROM q, carr ca)),
    routing AS (SELECT * FROM qcell WHERE cellrank <= 4),
    assigned AS (
      SELECT vec_id AS neighbor_id, n_emb, n_norm, c_label AS cell
      FROM (
        SELECT e.vec_id, e.embedding AS n_emb, e.norm AS n_norm,
          ca.c_label,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(generate_series(1, 64), i ->
                (CAST(e.embedding[i] AS DOUBLE) - ca.carr[i])
                  * (CAST(e.embedding[i] AS DOUBLE) - ca.carr[i]))),
              (acc, x) -> acc + x) ASC, ca.c_label ASC) AS rn
        FROM e, carr ca)
      WHERE rn = 1),
    pairs AS (
      SELECT r.query_id, a.neighbor_id, r.cellrank,
        ${dotSql("q.q_emb", "a.n_emb")} / (q.q_norm * a.n_norm)
          AS cosine
      FROM assigned a
      JOIN routing r USING (cell)
      JOIN q USING (query_id)
      WHERE r.query_id <> a.neighbor_id),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.query_id ORDER BY
            ${dotSql("q.q_emb", "c.embedding")} / (q.q_norm * c.norm)
              DESC, c.vec_id ASC) AS r
        FROM q JOIN e c ON q.query_id <> c.vec_id)
      WHERE r <= 10),
    nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q),
    sweep AS (
      SELECT np.nprobe, p.query_id, p.neighbor_id, p.cosine
      FROM (SELECT unnest([CAST(1 AS BIGINT), CAST(2 AS BIGINT),
              CAST(4 AS BIGINT)]) AS nprobe) np
      JOIN pairs p ON p.cellrank <= np.nprobe),
    tops AS (
      SELECT nprobe, query_id, neighbor_id FROM (
        SELECT nprobe, query_id, neighbor_id,
          row_number() OVER (PARTITION BY nprobe, query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS r
        FROM sweep)
      WHERE r <= 10),
    rep AS (
      SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS total_candidates
      FROM sweep GROUP BY nprobe),
    ov AS (
      SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS total_overlap
      FROM tops t JOIN truth tr USING (query_id, neighbor_id)
      GROUP BY t.nprobe)
    SELECT r.nprobe, nq.n_queries, r.total_candidates,
      ov.total_overlap,
      CAST(ov.total_overlap AS DOUBLE)
        / (CAST(nq.n_queries AS DOUBLE) * 10.0) AS mean_recall
    FROM rep r JOIN ov USING (nprobe), nq"""

  // --------------------------------- split representativeness
  /** Eval-split representativeness in embedding space: q105's
    * deterministic 80/10/10 split applied to vectors, each split's
    * centroid scored by squared distance to the GLOBAL centroid — a
    * val/test centroid far from global means the held-out sets are
    * not distributionally representative and eval numbers will skew
    * (q217 drifts across TIME slices, q232 across SHARDS; this is the
    * same audit across the train/val/test axis, completing the
    * triad).
    *
    * 100 TB design: one 64× posexplode aggregate (map-side combined
    * to |splits|×64 and 64 groups), exact decimal means, single-row
    * global-centroid broadcast, in-row d2 fold — q217's conventions
    * verbatim. */
  val q248SplitDrift: Q = (s, d) => {
    import s.implicits._
    val vecs = Tables.embeddings(s, d)
      .withColumn("split", CorpusOps.splitAssign($"vec_id"))
    val packed = centroidArrays(vecs, Seq($"split"))
      .withColumnRenamed("n", "n_vecs")
    val global = centroidArrays(vecs, Nil, "garr")
    packed.join(broadcast(global))
      .withColumn("d2_to_global", expr(
        """aggregate(zip_with(carr, garr, (a, b) -> (a - b) * (a - b)),
             CAST(0 AS DOUBLE), (acc, x) -> acc + x)"""))
      .select($"split", $"n_vecs", $"d2_to_global")
  }
  val o248: String = """
    WITH dims AS (
      SELECT CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM (SELECT *,
              (((vec_id % 1000000007) * 2654435761 + 5851)
                % 1000000007) % 100 AS b
            FROM embeddings),
           (SELECT unnest(generate_series(1, 64)) AS pos) g),
    per AS (
      SELECT split, pos,
        CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c,
        COUNT(*) AS nv
      FROM dims GROUP BY 1, 2),
    packed AS (
      SELECT split, list(c ORDER BY pos) AS carr,
        CAST(MAX(nv) AS BIGINT) AS n_vecs
      FROM per GROUP BY split),
    gcent AS (
      SELECT list(g ORDER BY pos) AS garr FROM (
        SELECT pos,
          CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS g
        FROM dims GROUP BY pos))
    SELECT split, n_vecs,
      list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(generate_series(1, 64), i ->
          (carr[i] - garr[i]) * (carr[i] - garr[i]))),
        (acc, x) -> acc + x) AS d2_to_global
    FROM packed, gcent"""

  // --------------------------------- cluster-balanced selection
  /** Cluster-balanced sampling: every vector is routed to its q65 IVF
    * cell, each cell gets an EXACT quota of `n_total div n_cells`
    * (the ideal-equal share — over-represented clusters are trimmed,
    * small ones keep everything), and within a cell the kept set is
    * the quota-smallest by a seeded multiplicative hash (q81's
    * partition-stable two-round spelling, vec_id tie-break) — the
    * diversity-preserving selection step of cluster-based curation
    * (SemDeDup prunes WITHIN-cluster redundancy; this balances
    * ACROSS clusters).
    *
    * 100 TB design: the exact per-cell quota is spelled as a
    * TWO-LEVEL hash-bucket refinement, not a per-cell rank window
    * over the corpus: per (cell, 256-bucket) counts → per-cell
    * cumulative over the 256-row bucket census (bounded window) →
    * threshold bucket + remainder per cell (broadcast) → rows below
    * the threshold bucket pass outright, and only the threshold
    * bucket itself (≈ cell/256 rows) is rank-refined. The DuckDB
    * oracle is the naive per-cell `row_number` spelling, so the
    * refinement is pinned row-identical to the rank semantics —
    * the q153/q161 two-level-vs-naive pattern, applied to quota
    * selection. */
  val q244ClusterBalanced: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val packed = packCentroids(labelCentroids(s, d))
    val assigned = emb.join(broadcast(packed))
      .withColumn("cell", expr(s"$nearestCentroid.c_label"))
      .withColumn("h",
        (pmod($"vec_id", lit(1000000007L)) * lit(2654435761L)
          + lit(44L * 40503L)) % lit(1000000007L))
      .withColumn("h", ($"h" * lit(2654435761L)) % lit(1000000007L))
      .withColumn("b", expr("h div 3906251"))
      .select($"vec_id", $"cell", $"h", $"b")
      // consumed by the bucket census AND the row filters — one
      // assignment pass, not three
      .localCheckpoint(eager = false)
    // quota from the cell census (two-level), not a mixed
    // count/count-distinct aggregate — the latter plans an Expand
    val quota = assigned.groupBy($"cell")
      .agg(count(lit(1)).as("n_c"))
      .agg(expr("sum(n_c) div count(1)").cast("long").as("cap"))
    val buckets = assigned.groupBy($"cell", $"b")
      .agg(count(lit(1)).as("nb"))
      .withColumn("cum", sum($"nb").over(Window.partitionBy($"cell")
        .orderBy($"b").rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    // the one bucket per cell that straddles the quota, with the
    // remainder still needed inside it
    val thresholds = buckets.join(broadcast(quota))
      .filter($"cum" - $"nb" < $"cap" && $"cap" <= $"cum")
      .select($"cell", $"b".as("tb"), ($"cap" - ($"cum" - $"nb"))
        .cast("long").as("need"))
    val withT = assigned.join(broadcast(thresholds), Seq("cell"), "left")
    val below = withT.filter($"tb".isNull || $"b" < $"tb")
      .select($"cell", $"vec_id")
    val refine = withT.filter($"b" === $"tb")
      .withColumn("r", row_number().over(Window.partitionBy($"cell")
        .orderBy($"h".asc, $"vec_id".asc)))
      .filter($"r" <= $"need")
      .select($"cell", $"vec_id")
    below.unionByName(refine)
  }
  val o244: String = s"""
    WITH dims AS (
      SELECT vec_id, label, g.pos AS pos,
             CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM embeddings,
           (SELECT unnest(generate_series(1, 64)) AS pos) g),
    centroids AS (
      SELECT label AS c_label, pos,
             CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1, 2),
    carr AS (
      SELECT c_label, list(c ORDER BY pos) AS carr
      FROM centroids GROUP BY c_label),
    dist AS (
      SELECT em.vec_id, ca.c_label,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, 64), i ->
                   (CAST(em.embedding[i] AS DOUBLE) - ca.carr[i])
                     * (CAST(em.embedding[i] AS DOUBLE) - ca.carr[i]))),
               (acc, x) -> acc + x) AS d2
      FROM embeddings em, carr ca),
    a AS (
      SELECT vec_id, c_label AS cell,
        ((((vec_id % 1000000007) * 2654435761 + ${44L * 40503L})
           % 1000000007) * 2654435761) % 1000000007 AS h
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY d2 ASC, c_label ASC) AS rn
            FROM dist)
      WHERE rn = 1),
    cap AS (
      SELECT COUNT(*) // COUNT(DISTINCT cell) AS cap FROM a),
    ranked AS (
      SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
        ORDER BY h ASC, vec_id ASC) AS r
      FROM a)
    SELECT cell, vec_id FROM ranked, cap WHERE r <= cap"""

  // --------------------------------- dimension-collapse audit
  /** Per-dimension variance profile of the embedding space — the
    * anisotropy/collapse audit an index build reads before committing
    * storage: a dimension with (near-)zero variance carries no
    * retrieval signal but still costs index bits (and scalar
    * quantization — q242's lane — wastes its 8 bits there), while a
    * single dominant dimension means the space is anisotropic and
    * cosine ranking degenerates toward that axis. Emits per dimension
    * the mean, variance, and variance share of the total.
    *
    * Exactness: Σv and Σv² accumulate as decimal(30,8) (order-
    * independent, the q217 convention); mean and variance are then a
    * PINNED chain of IEEE ops per dimension (identical both engines);
    * the total-variance denominator sums the 64 per-dimension
    * variances as floor(·1e12) int64 fixed point — never a
    * float sum over rows.
    *
    * 100 TB design: ONE posexplode aggregate, map-side combined to 64
    * groups; the totals row is a broadcast single row; output is 64
    * rows. */
  val q258DimCollapse: Q = (s, d) => {
    import s.implicits._
    val per = Tables.embeddings(s, d)
      .select(posexplode($"embedding").as(Seq("pos", "v")))
      .withColumn("v", $"v".cast("double"))
      .groupBy($"pos")
      .agg(count(lit(1)).as("n"),
        sum($"v".cast("decimal(30,8)")).as("sv"),
        sum(($"v" * $"v").cast("decimal(30,8)")).as("svv"))
      .withColumn("mean", $"sv".cast("double") / $"n".cast("double"))
      .withColumn("variance",
        $"svv".cast("double") / $"n".cast("double")
          - ($"sv".cast("double") / $"n".cast("double"))
          * ($"sv".cast("double") / $"n".cast("double")))
      .withColumn("var_fp",
        floor($"variance" * lit(1.0e12)).cast("long"))
      // 64 rows feeding both the totals row and the report — never
      // re-run the corpus aggregate for the denominator
      .localCheckpoint(eager = false)
    val tot = per.agg(sum($"var_fp").cast("long").as("tot_fp"))
    per.join(broadcast(tot))
      .select($"pos".cast("long").as("pos"), $"mean", $"variance",
        // fully-collapsed space: every variance floors to 0 at the
        // 1e-12 fixed point → tot_fp = 0. That degenerate corpus is
        // exactly what the audit flags; share is undefined, so both
        // engines must agree on NULL (Spark x/0 = null already, but
        // the explicit guard keeps the SQL/NULLIF twin honest).
        when($"tot_fp" === 0L, lit(null).cast("double"))
          .otherwise($"var_fp".cast("double") / $"tot_fp".cast("double"))
          .as("var_share"))
  }
  val o258: String = """
    WITH dims AS (
      SELECT g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS v
      FROM embeddings,
           (SELECT unnest(generate_series(1, 64)) AS pos) g),
    per AS (
      SELECT pos, COUNT(*) AS n,
        SUM(CAST(v AS DECIMAL(30,8))) AS sv,
        SUM(CAST(v * v AS DECIMAL(30,8))) AS svv
      FROM dims GROUP BY pos),
    stats AS (
      SELECT pos,
        CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        CAST(svv AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) AS variance
      FROM per),
    fp AS (
      SELECT pos, mean, variance,
        CAST(FLOOR(variance * 1.0e12) AS BIGINT) AS var_fp
      FROM stats),
    tot AS (SELECT CAST(SUM(var_fp) AS BIGINT) AS tot_fp FROM fp)
    SELECT CAST(pos - 1 AS BIGINT) AS pos, mean, variance,
      CAST(var_fp AS DOUBLE) / CAST(NULLIF(tot_fp, 0) AS DOUBLE)
        AS var_share
    FROM fp, tot"""

  // --------------------------------- JL projection-distortion audit
  /** Johnson–Lindenstrauss distance-preservation audit: every vector
    * projects to 16 dims through a FIXED ±1 sign matrix (sign(k,j)
    * from a two-constant integer hash — deterministic, engine-
    * identical, no stored matrix), and the audit reports, for every
    * unordered pair of the 25-probe set, the squared distance in full
    * space vs (projected² / 16) and their ratio — the distortion a
    * random-projection index (RP-trees, compact ANN sketches) would
    * impose. q188 audits PREFIX truncation (Matryoshka); this audits
    * the random-combination family, the other standard
    * dimensionality-reduction lane. Pairs with identical full vectors
    * carry no ratio and are excluded (mirrored).
    *
    * Float parity: projections and distances are in-row left folds in
    * PINNED index order (sign·v multiply then fold-add — bit-identical
    * IEEE in both engines); the ratio is two divides of those exact
    * doubles. No cross-row float aggregation at all.
    *
    * 100 TB design: the probe set is constant-size by construction
    * (the declared audit cost, q62's convention), so the pair frame
    * is C(25,2) rows at ANY corpus size; each projection is one
    * in-row fold at the scan. */
  val q260JlAudit: Q = (s, d) => {
    import s.implicits._
    val projExpr = """transform(sequence(0, 15), k ->
      aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE), (a, j) ->
        a + IF(((k * 2654435761 + j * 40503) % 1000000007) % 2 = 0,
               CAST(1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE))
            * CAST(element_at(embedding, j) AS DOUBLE)))"""
    val probes = Tables.embeddings(s, d)
      .filter($"vec_id" % 100 === 0 && $"vec_id" < 2500)
      .select($"vec_id", $"embedding", expr(projExpr).as("proj"))
    val d2Full = expr(
      """aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE), (a, j) ->
           a + (CAST(element_at(ea, j) AS DOUBLE)
                 - CAST(element_at(eb, j) AS DOUBLE))
             * (CAST(element_at(ea, j) AS DOUBLE)
                 - CAST(element_at(eb, j) AS DOUBLE)))""")
    val d2Proj = expr(
      """aggregate(sequence(1, 16), CAST(0.0 AS DOUBLE), (a, k) ->
           a + (element_at(pa, k) - element_at(pb, k))
             * (element_at(pa, k) - element_at(pb, k)))""")
    probes.select($"vec_id".as("vec_a"), $"embedding".as("ea"),
        $"proj".as("pa"))
      .join(probes.select($"vec_id".as("vec_b"), $"embedding".as("eb"),
        $"proj".as("pb")), $"vec_a" < $"vec_b")
      .withColumn("d2_full", d2Full)
      .withColumn("d2_proj", d2Proj)
      .filter($"d2_full" > 0.0)
      .select($"vec_a", $"vec_b", $"d2_full", $"d2_proj",
        (($"d2_proj" / lit(16.0)) / $"d2_full").as("ratio"))
  }
  val o260: String = """
    WITH probes AS (
      SELECT vec_id, embedding,
        list_transform(generate_series(0, 15), k ->
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, 64), j ->
              CASE WHEN ((k * 2654435761 + j * 40503) % 1000000007)
                     % 2 = 0
                   THEN CAST(1.0 AS DOUBLE)
                   ELSE CAST(-1.0 AS DOUBLE) END
                * CAST(embedding[j] AS DOUBLE))),
            (a, x) -> a + x)) AS proj
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2500),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(generate_series(1, 64), j ->
            (CAST(a.embedding[j] AS DOUBLE)
              - CAST(b.embedding[j] AS DOUBLE))
            * (CAST(a.embedding[j] AS DOUBLE)
              - CAST(b.embedding[j] AS DOUBLE)))),
          (acc, x) -> acc + x) AS d2_full,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(generate_series(1, 16), k ->
            (a.proj[k] - b.proj[k]) * (a.proj[k] - b.proj[k]))),
          (acc, x) -> acc + x) AS d2_proj
      FROM probes a JOIN probes b ON a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, d2_full, d2_proj,
      (d2_proj / 16.0) / d2_full AS ratio
    FROM pairs WHERE d2_full > 0.0"""

  // ------------------------------- semantic decontamination screen
  /** Embedding-space decontamination: the SEMANTIC twin of q89's
    * n-gram eval-set screen. The eval benchmark is a constant-size
    * slice (vec_id % 10 = 7 AND vec_id < 1000 — ≤ 100 vectors no
    * matter how big the table grows, the q62 constant-broadcast rule);
    * every remaining vector is scored by its MAX cosine to any eval
    * vector and censused per label at three thresholds (0.45 catches
    * the natural tail of this corpus, whose max cosines top out at
    * ~0.49; 0.90/0.99 catch only true copies). Paraphrase-level eval
    * contamination survives n-gram decontamination (reworded questions
    * share no 8-gram) — the embedding screen is the standard second
    * layer.
    *
    * Non-vacuity: every third eval vector is replayed verbatim into
    * the train side at +11·2^40 (the planted-replay id convention) —
    * those land at cos ≈ 1.0, so the ≥ 0.90/0.99 lanes are exercised;
    * QueriesSpec pins the planted count exactly.
    *
    * Float parity: each cosine is the [[dot]] left-fold over element
    * order divided by two norms — bit-identical per pair — and
    * `array_max` / MAX over bit-identical doubles agree exactly.
    *
    * 100 TB design: the eval set is ONE broadcast row of packed
    * (id, norm, embedding) structs; the corpus side is scanned once
    * with an IN-ROW max fold (O(N·|eval|·dim) work, no shuffle of
    * train embeddings, no pair materialization); the census is a
    * |labels|-row aggregate. The declared BroadcastNestedLoopJoin is
    * the single packed-row cross — q91's shape. */
  val q267SemanticDecon: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(expr(dot("embedding", "embedding"))))
    val eval = e.filter($"vec_id" % 10 === 7 && $"vec_id" < 1000)
    val plants = eval.filter($"vec_id" % 30 === 7)
      .withColumn("vec_id", $"vec_id" + lit(11L << 40))
    val train = e.filter(!($"vec_id" % 10 === 7 && $"vec_id" < 1000))
      .unionByName(plants)
    // Empty-eval-slice parity guard: the global agg below emits ONE
    // row even over zero input (an empty evs array), while the oracle's
    // `FROM tr, ev` cross join emits ZERO rows — so an empty benchmark
    // would diverge silently (NULL max_cos census vs no census). Filter
    // the packed row so BOTH engines yield zero rows on an empty slice;
    // on any populated slice this is a no-op.
    val packed = eval
      .select(struct($"vec_id".as("e_id"), $"norm".as("e_norm"),
        $"embedding".as("e_emb")).as("ev"))
      .agg(array_sort(collect_list($"ev")).as("evs"))
      .filter(size($"evs") > 0)
    train.join(broadcast(packed))
      .withColumn("max_cos", expr(
        """array_max(transform(evs, ev ->
             dot_f32_native(embedding, ev.e_emb)
               / (norm * ev.e_norm)))"""))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_train"),
        sum(when($"max_cos" >= 0.45, 1L).otherwise(0L)).cast("long")
          .as("n_cont45"),
        sum(when($"max_cos" >= 0.90, 1L).otherwise(0L)).cast("long")
          .as("n_cont90"),
        sum(when($"max_cos" >= 0.99, 1L).otherwise(0L)).cast("long")
          .as("n_cont99"),
        max($"max_cos").as("max_cos"))
  }
  val o267: String = s"""
    WITH e AS (
      SELECT vec_id, label, embedding,
        sqrt(${dotSql("embedding", "embedding")}) AS norm
      FROM embeddings),
    ev AS (SELECT * FROM e WHERE vec_id % 10 = 7 AND vec_id < 1000),
    tr AS (
      SELECT * FROM e WHERE NOT (vec_id % 10 = 7 AND vec_id < 1000)
      UNION ALL
      SELECT vec_id + (CAST(11 AS BIGINT) << 40), label, embedding, norm
      FROM ev WHERE vec_id % 30 = 7),
    mc AS (
      SELECT tr.vec_id, tr.label,
        MAX(${dotSql("tr.embedding", "ev.embedding")}
          / (tr.norm * ev.norm)) AS max_cos
      FROM tr, ev GROUP BY tr.vec_id, tr.label)
    SELECT label, COUNT(*) AS n_train,
      CAST(SUM(CASE WHEN max_cos >= 0.45 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_cont45,
      CAST(SUM(CASE WHEN max_cos >= 0.90 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_cont90,
      CAST(SUM(CASE WHEN max_cos >= 0.99 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_cont99,
      MAX(max_cos) AS max_cos
    FROM mc GROUP BY label"""

  val queries: Map[String, Q] = Map(
    "q275_knn_dup_clusters" -> q275KnnDupClusters,
    "q267_semantic_decon" -> q267SemanticDecon,
    "q260_jl_audit" -> q260JlAudit,
    "q258_dim_collapse" -> q258DimCollapse,
    "q249_nprobe_sweep" -> q249NprobeSweep,
    "q248_split_drift" -> q248SplitDrift,
    "q244_cluster_balanced" -> q244ClusterBalanced,
    "q242_sq8_error_audit" -> q242Sq8ErrorAudit,
    "q243_sq8_agreement" -> q243Sq8Agreement,
    "q212_dbscan_census" -> q212DbscanCensus,
    "q215_retrieval_metrics" -> q215RetrievalMetrics,
    "q217_embedding_drift" -> q217EmbeddingDrift,
    "q232_shard_embedding_audit" -> q232ShardEmbeddingAudit,
    "q236_label_noise_screen" -> q236LabelNoiseScreen,
    "q237_hybrid_agreement" -> q237HybridAgreement,
    "q219_label_confusion" -> q219LabelConfusion,
    "q230_ann_tombstones" -> q230AnnTombstones,
    "q126_contrastive_triplets" -> q126ContrastiveTriplets,
    "q124_embed_outliers" -> q124EmbedOutliers,
    "q117_ivfpq_search" -> q117IvfPqSearch,
    "q113_pq_encode" -> q113PqEncode,
    "q61_norm_stats" -> q61NormStats,
    "q102_lloyd_step" -> q102LloydStep,
    "q62_knn_brute" -> q62KnnBrute,
    "q63_ann_bucketed" -> q63AnnBucketed,
    "q64_cosine_neardup" -> q64CosineNearDup,
    "q65_ivf_assign" -> q65IvfAssign,
    "q66_quantize_int8" -> q66QuantizeInt8,
    "q84_semantic_dedup" -> q84SemanticDedup,
    "q91_semdedup_centroid" -> q91SemDedupCentroid)

  val oracles: Map[String, String] = Map(
    "q275_knn_dup_clusters" -> o275,
    "q267_semantic_decon" -> o267,
    "q260_jl_audit" -> o260,
    "q258_dim_collapse" -> o258,
    "q249_nprobe_sweep" -> o249,
    "q248_split_drift" -> o248,
    "q244_cluster_balanced" -> o244,
    "q242_sq8_error_audit" -> o242,
    "q243_sq8_agreement" -> o243,
    "q212_dbscan_census" -> o212,
    "q215_retrieval_metrics" -> o215,
    "q217_embedding_drift" -> o217,
    "q232_shard_embedding_audit" -> o232,
    "q236_label_noise_screen" -> o236,
    "q237_hybrid_agreement" -> o237,
    "q219_label_confusion" -> o219,
    "q230_ann_tombstones" -> o230,
    "q126_contrastive_triplets" -> o126,
    "q124_embed_outliers" -> o124,
    "q117_ivfpq_search" -> o117,
    "q113_pq_encode" -> o113,
    "q84_semantic_dedup" -> o84,
    "q91_semdedup_centroid" -> o91,
    "q61_norm_stats" -> o61,
    "q62_knn_brute" -> o62,
    "q63_ann_bucketed" -> o63,
    "q64_cosine_neardup" -> o64,
    "q65_ivf_assign" -> o65,
    "q66_quantize_int8" -> o66,
    "q102_lloyd_step" -> o102)
}
