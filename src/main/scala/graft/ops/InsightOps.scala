package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-5 analytics + curation additions: customer RFM segmentation,
  * market-basket lift, weighted priority sampling, Matryoshka
  * embedding-truncation audit, exact-dup metadata-conflict census, and
  * C4-style per-source quota enforcement.
  *
  * Parity conventions follow the repo cookbook: money through
  * decimal(18,2); cross-row double sums through floor-scaled int64
  * summed as decimal(38,0) (order-independent at any scale); single
  * IEEE divide/sqrt at the end (bit-equal across engines); every
  * ranking carries a total tie-break key.
  */
object InsightOps {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------ RFM segments
  /** Customer RFM segmentation (recency/frequency/monetary scoring —
    * the standard CRM cut of an orders fact; reference's per-entity
    * profile family, sales_by_ticket.py metadata joins). Fixed score
    * thresholds rather than ntile: quantile edges are engine- and
    * partition-order-specific on ties, fixed cuts are deterministic
    * everywhere. Segment census: one groupBy orders (map-side
    * combined) + one groupBy segment — both shuffles on small keys;
    * no window, no distinct. */
  val q185RfmSegments: Q = (s, d) => {
    import s.implicits._
    val ref = lit("2001-08-01").cast("date")
    val perCust = Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(
        datediff(ref, max($"o_orderdate".cast("date"))).cast("long")
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum($"o_totalprice".cast("decimal(18,2)")).as("monetary"))
    val scored = perCust
      .withColumn("r", when($"recency_days" <= 90, 3)
        .when($"recency_days" <= 365, 2).otherwise(1))
      .withColumn("f", when($"frequency" >= 15, 3)
        .when($"frequency" >= 8, 2).otherwise(1))
      .withColumn("m", when($"monetary" >= 4000000.0, 3)
        .when($"monetary" >= 1500000.0, 2).otherwise(1))
    scored
      .groupBy(concat($"r".cast("string"), $"f".cast("string"),
        $"m".cast("string")).as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (sum($"recency_days").cast("double") / count(lit(1)))
          .as("avg_recency_days"),
        (sum($"frequency").cast("double") / count(lit(1)))
          .as("avg_frequency"),
        sum($"monetary").cast("double").as("total_monetary"))
  }
  val o185: String = """
    WITH c AS (
      SELECT o_custkey,
        date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                  DATE '2001-08-01') AS recency_days,
        COUNT(*) AS frequency,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY 1),
    s AS (
      SELECT *,
        CASE WHEN recency_days <= 90 THEN 3
             WHEN recency_days <= 365 THEN 2 ELSE 1 END AS r,
        CASE WHEN frequency >= 15 THEN 3
             WHEN frequency >= 8 THEN 2 ELSE 1 END AS f,
        CASE WHEN monetary >= 4000000.0 THEN 3
             WHEN monetary >= 1500000.0 THEN 2 ELSE 1 END AS m
      FROM c)
    SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
        AS segment,
      COUNT(*) AS n_customers,
      CAST(SUM(recency_days) AS DOUBLE) / COUNT(*) AS avg_recency_days,
      CAST(SUM(frequency) AS DOUBLE) / COUNT(*) AS avg_frequency,
      CAST(SUM(monetary) AS DOUBLE) AS total_monetary
    FROM s GROUP BY 1"""

  // --------------------------------------------------- basket lift
  /** Market-basket brand-affinity: for brand pairs co-bought in the
    * same order, support and lift. The per-order brand set comes from
    * ONE order-keyed aggregate (collect_set; brands per order is
    * bounded by the 25-brand domain) and pairs are generated IN-ROW
    * from the sorted set — the q58 posting-list layout, no self-join
    * of the order×brand frame. Per-brand supports ride the same
    * exploded frame; lift's numerator/denominator stay integer
    * (support·N vs support·support) with ONE IEEE divide at the end.
    *
    * 100 TB design: `part` is a dimension (broadcast); the only big
    * shuffle is the order-keyed aggregate, map-side combined; pair
    * census keys are 2×25 strings. */
  val q186BasketLift: Q = (s, d) => {
    import s.implicits._
    val ob = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"p_brand")).as("bs"))
      .localCheckpoint(eager = false) // reused by pair census + brand supports + N
    val nOrders = ob.select(count(lit(1)).as("n_orders"))
    val brandSupport = ob
      .select(explode($"bs").as("brand"))
      .groupBy($"brand").agg(count(lit(1)).as("sup"))
    val pairs = DedupOps.pairExplode(ob, "bs")
      .select($"__pa".as("brand_a"), $"__pb".as("brand_b"))
      .groupBy($"brand_a", $"brand_b")
      .agg(count(lit(1)).as("support_ab"))
      .filter($"support_ab" >= 20)
    pairs
      .join(broadcast(brandSupport)
        .select($"brand".as("brand_a"), $"sup".as("sup_a")), Seq("brand_a"))
      .join(broadcast(brandSupport)
        .select($"brand".as("brand_b"), $"sup".as("sup_b")), Seq("brand_b"))
      .crossJoin(broadcast(nOrders))
      .select($"brand_a", $"brand_b", $"support_ab",
        (($"support_ab" * $"n_orders").cast("double")
          / ($"sup_a" * $"sup_b").cast("double")).as("lift"))
  }
  val o186: String = """
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob),
    sup AS (SELECT p_brand, COUNT(*) AS sup FROM ob GROUP BY 1),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        COUNT(*) AS support_ab
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2 HAVING COUNT(*) >= 20)
    SELECT brand_a, brand_b, support_ab,
      CAST(support_ab * n.n_orders AS DOUBLE)
        / CAST(sa.sup * sb.sup AS DOUBLE) AS lift
    FROM pairs
    JOIN sup sa ON sa.p_brand = brand_a
    JOIN sup sb ON sb.p_brand = brand_b
    CROSS JOIN n"""

  // ---------------------------------------------- weighted sampling
  /** The A-ES integer priority over (doc_id, n_chars) — THE sampling
    * key: q187 censuses the k smallest in batch, and the streaming
    * reservoir (`CorpusStreaming.maintainReservoir`) maintains the
    * same k-smallest set online, so both tiers elect identical
    * samples by construction. */
  private[graft] val aesPrioritySql: String =
    s"(((pmod(doc_id, 1000000007) * 2654435761 + ${42L * 40503L})" +
      s" % 1000000007) * 2654435761) % 1000000007 * 1000000 div n_chars"

  /** Weighted sampling without replacement, A-ES shape (Efraimidis–
    * Spirakis): each doc gets priority u/w — u a seeded uniform from
    * the q81 two-round mod-prime hash, w = n_chars — and the k
    * smallest priorities win, so selection probability scales with
    * weight. The float key u^(1/w) of the textbook construction is
    * replaced by INTEGER u·SCALE div w ([[aesPrioritySql]]): same
    * ordering semantics for sampling purposes, zero cross-engine
    * float risk, ANSI-safe (u < 1e9+7, SCALE 1e6 → product <
    * 1.1e15). TakeOrdered (top-k heaps, no global sort) serves the k
    * rows.
    *
    * 100 TB design: per-row integer hash, one k-bounded TakeOrdered —
    * the same shape every "sample k docs by quality weight" curation
    * step needs; reproducible by any engine (full oracle). */
  val q187WeightedSample: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("priority", expr(aesPrioritySql))
      .select($"doc_id", $"n_chars".as("weight"), $"priority")
      .orderBy($"priority".asc, $"doc_id".asc)
      .limit(100)
  }
  val o187: String = {
    val uSql = s"((((doc_id % 1000000007) * 2654435761 + ${42L * 40503L})" +
      " % 1000000007) * 2654435761) % 1000000007"
    s"""
    SELECT doc_id, n_chars AS weight,
      ($uSql * 1000000) // n_chars AS priority
    FROM documents
    ORDER BY priority ASC, doc_id ASC
    LIMIT 100"""
  }

  // ------------------------------------------- Matryoshka truncation
  /** Embedding-truncation (Matryoshka) quality audit: for prefix
    * dimensions m ∈ {8,16,32} of the 64-dim vectors, the cosine
    * between the full vector and its m-dim truncation reduces to
    * ‖v[1..m]‖ / ‖v‖ — one in-row prefix-sum-of-squares per m over
    * the SAME left-fold order on both engines (bit-equal doubles),
    * then sqrt+divide (both correctly rounded IEEE ops). Cross-row
    * aggregation routes each cosine through floor(x·1e15) int64 and
    * sums those as decimal(38,0): exact, order-independent, no
    * overflow at any corpus size.
    *
    * The audit a retrieval team runs before adopting truncated
    * embeddings: how much similarity mass the first m dims carry. */
  val q188MatryoshkaAudit: Q = (s, d) => {
    import s.implicits._
    def ss(m: Int): Column = expr(
      s"""aggregate(slice(embedding, 1, $m), CAST(0.0 AS DOUBLE),
           (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""")
    val withCos = Tables.embeddings(s, d)
      .withColumn("ss_full", ss(64))
      .withColumn("cos8", sqrt(ss(8) / $"ss_full"))
      .withColumn("cos16", sqrt(ss(16) / $"ss_full"))
      .withColumn("cos32", sqrt(ss(32) / $"ss_full"))
    withCos
      .select(expr(
        """explode(array(
             named_struct('m', 8,  'c', cos8),
             named_struct('m', 16, 'c', cos16),
             named_struct('m', 32, 'c', cos32))) AS e"""))
      .select($"e.m".as("m"), $"e.c".as("c"))
      .groupBy($"m")
      .agg(count(lit(1)).as("n_vectors"),
        (sum(floor($"c" * 1e15).cast("decimal(38,0)"))
          .cast("double") / 1e15 / count(lit(1))).as("avg_cosine"),
        min($"c").as("min_cosine"))
  }
  val o188: String = {
    def ssSql(m: Int) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(embedding[1:$m],
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
            (a, x) -> a + x)"""
    s"""
    WITH c AS (
      SELECT vec_id, sqrt(${ssSql(8)} / ${ssSql(64)}) AS cos8,
        sqrt(${ssSql(16)} / ${ssSql(64)}) AS cos16,
        sqrt(${ssSql(32)} / ${ssSql(64)}) AS cos32
      FROM embeddings),
    u AS (
      SELECT 8 AS m, cos8 AS c FROM c
      UNION ALL SELECT 16 AS m, cos16 AS c FROM c
      UNION ALL SELECT 32 AS m, cos32 AS c FROM c)
    SELECT m, COUNT(*) AS n_vectors,
      CAST(SUM(CAST(floor(c * 1e15) AS DECIMAL(38,0))) AS DOUBLE)
        / 1e15 / COUNT(*) AS avg_cosine,
      MIN(c) AS min_cosine
    FROM u GROUP BY m"""
  }

  // ------------------------------------- dup metadata conflicts
  /** Exact-duplicate metadata-conflict census: dup groups (same text,
    * ≥2 docs) whose members DISAGREE on lang or source — the
    * provenance-reconciliation problem every multi-source corpus
    * merge hits (which label survives dedup?). The synthetic corpus
    * has no cross-source exact dups, so the input unions a replayed
    * slice with relabeled source and a second slice with relabeled
    * lang (shifted doc_id at 3·2⁴⁰ / 4·2⁴⁰ — the planted-replay
    * recipe, mirrored in the oracle SQL).
    *
    * 100 TB design: groups keyed on the 8-byte fingerprint with text
    * as collision tiebreak; per-group lang/source cardinalities come
    * from distinct-collapsing map-side-combined aggregates (the
    * per-group domains are tiny) — no window, document bodies shuffle
    * once. */
  val q189DupMetaConflict: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", $"lang", $"source", $"text")
    val srcReplay = base.filter($"doc_id" % 41 === 0)
      .withColumn("doc_id", $"doc_id" + lit(3L << 40))
      .withColumn("source", lit("mirror"))
    val langReplay = base.filter($"doc_id" % 53 === 0)
      .withColumn("doc_id", $"doc_id" + lit(4L << 40))
      .withColumn("lang", lit("und"))
    val groups = base.unionByName(srcReplay).unionByName(langReplay)
      .withColumn("fp", TextOps.fingerprintCol)
      .groupBy($"fp", $"text")
      .agg(count(lit(1)).as("n_docs"),
        size(collect_set($"lang")).cast("long").as("n_langs"),
        size(collect_set($"source")).cast("long").as("n_sources"))
      .filter($"n_docs" >= 2 &&
        ($"n_langs" >= 2 || $"n_sources" >= 2))
    groups
      .groupBy(when($"n_langs" >= 2 && $"n_sources" >= 2, "both")
        .when($"n_langs" >= 2, "lang").otherwise("source")
        .as("conflict"))
      .agg(count(lit(1)).as("n_groups"),
        sum($"n_docs").cast("long").as("n_docs"),
        max($"n_docs").cast("long").as("max_group"))
  }
  val o189: String = """
    WITH docs AS (
      SELECT doc_id, lang, source, text FROM documents
      UNION ALL
      SELECT doc_id + 3298534883328, lang, 'mirror' AS source, text
      FROM documents WHERE doc_id % 41 = 0
      UNION ALL
      SELECT doc_id + 4398046511104, 'und' AS lang, source, text
      FROM documents WHERE doc_id % 53 = 0),
    g AS (
      SELECT text, COUNT(*) AS n_docs,
        COUNT(DISTINCT lang) AS n_langs,
        COUNT(DISTINCT source) AS n_sources
      FROM docs GROUP BY text
      HAVING COUNT(*) >= 2
        AND (COUNT(DISTINCT lang) >= 2 OR COUNT(DISTINCT source) >= 2))
    SELECT CASE WHEN n_langs >= 2 AND n_sources >= 2 THEN 'both'
                WHEN n_langs >= 2 THEN 'lang' ELSE 'source' END
        AS conflict,
      COUNT(*) AS n_groups,
      CAST(SUM(n_docs) AS BIGINT) AS n_docs,
      CAST(MAX(n_docs) AS BIGINT) AS max_group
    FROM g GROUP BY 1"""

  // ------------------------------------------- per-source quota
  /** C4/RefinedWeb-style per-source quota: keep at most K=10 docs per
    * source, ranked by quality (desc) with doc_id as total tiebreak;
    * report per source what survived and what the cap cost. The keep
    * rank is a per-source window — partitioned by the quota key, so
    * at 100 TB each source's rows sort locally within its hash
    * partition (bounded by the per-source document count, the very
    * quantity the quota bounds); skewed mega-sources are exactly the
    * rows the cap discards. The rank feeds the kept/dropped counts
    * rather than a `rk <= K` filter, so every row is ranked. */
  val q190SourceQuota: Q = (s, d) => {
    import s.implicits._
    val K = 10
    val w = Window.partitionBy($"source")
      .orderBy($"quality".desc, $"doc_id".asc)
    Tables.documents(s, d)
      .withColumn("quality", TextOps.qualityCol)
      .withColumn("rk", row_number().over(w))
      .groupBy($"source")
      .agg(
        sum(when($"rk" <= K, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"rk" > K, 1L).otherwise(0L)).as("n_dropped"),
        sum(when($"rk" <= K, $"n_chars").otherwise(0L)).cast("long")
          .as("kept_chars"),
        sum(when($"rk" > K, $"n_chars").otherwise(0L)).cast("long")
          .as("dropped_chars"))
  }
  val o190: String = s"""
    WITH r AS (
      SELECT source, n_chars,
        ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY (${TextOps.qualitySql}) DESC, doc_id ASC) AS rk
      FROM documents)
    SELECT source,
      CAST(SUM(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN rk > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      CAST(SUM(CASE WHEN rk <= 10 THEN n_chars ELSE 0 END) AS BIGINT)
        AS kept_chars,
      CAST(SUM(CASE WHEN rk > 10 THEN n_chars ELSE 0 END) AS BIGINT)
        AS dropped_chars
    FROM r GROUP BY source"""

  // --------------------------------------- time-decay engagement
  /** Exponentially time-decayed engagement scoring: each event
    * contributes weight(type) · 0.5^⌊age_days/7⌋ (one-week half-life)
    * toward its user's score. The decay factor is a power of two with
    * a SMALL integer exponent (capped at 20), so every term is a
    * dyadic rational with ≤20 fractional bits and ≤3 integral bits —
    * their double sum is EXACT and order-independent without any
    * decimal routing (the float-parity cookbook's cheapest trick:
    * pick constants whose arithmetic is closed in binary).
    *
    * 100 TB design: per-row date math + a lookup CASE, one map-side-
    * combined groupBy user — the minimal shape for any "recency-
    * weighted user feature" job. */
  val q191DecayEngagement: Q = (s, d) => {
    import s.implicits._
    val ref = lit("2024-01-31").cast("date")
    val age = datediff(ref, $"ts".cast("date"))
    // greatest(·, 0): if the driver ever regenerates events past the
    // reference date, negative ages would diverge between engines
    // (Spark floor → -inf, DuckDB // → toward zero) — clamp keeps the
    // query total under any future data time range.
    val k = least(greatest(floor(age / 7).cast("int"), lit(0)), lit(20))
    val weight = when($"event_type" === "purchase", 5.0)
      .when($"event_type" === "signup", 3.0)
      .when($"event_type" === "click", 2.0)
      .when($"event_type" === "view", 1.0)
      .otherwise(0.0)
    Tables.events(s, d)
      .select($"user_id", (weight * pow(lit(0.5), k)).as("term"))
      .groupBy($"user_id")
      .agg(sum($"term").as("score"),
        count(lit(1)).as("n_events"))
      .filter($"score" > 0.0)
  }
  val o191: String = """
    SELECT user_id,
      SUM(CASE event_type WHEN 'purchase' THEN 5.0 WHEN 'signup' THEN 3.0
            WHEN 'click' THEN 2.0 WHEN 'view' THEN 1.0 ELSE 0.0 END
          * power(0.5, least(greatest(date_diff('day', CAST(ts AS DATE),
              DATE '2024-01-31') // 7, 0), 20))) AS score,
      COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    HAVING SUM(CASE event_type WHEN 'purchase' THEN 5.0 WHEN 'signup' THEN 3.0
            WHEN 'click' THEN 2.0 WHEN 'view' THEN 1.0 ELSE 0.0 END
          * power(0.5, least(greatest(date_diff('day', CAST(ts AS DATE),
              DATE '2024-01-31') // 7, 0), 20))) > 0.0"""

  // ------------------------------------------- trailing revenue
  /** Calendar-aligned trailing 7-/28-day revenue with week-over-week
    * growth — the shape of every "rolling KPI" mart. The windows run
    * over the DAILY CENSUS (one row per day), not the order rows: the
    * first aggregate collapses the fact table map-side, and the
    * global ordered window then sees a bounded, census-grain input
    * (ROWS ≈ days of history — thousands, at any fact-table scale).
    * Sums stay decimal(18,2) end to end; the growth ratio is the one
    * double divide. */
  val q192TrailingRevenue: Q = (s, d) => {
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).as("rev"))
      .withColumn("day_idx",
        datediff($"day", lit("1995-01-01").cast("date")).cast("long"))
    val w7 = Window.orderBy($"day_idx").rangeBetween(-6, 0)
    val w28 = Window.orderBy($"day_idx").rangeBetween(-27, 0)
    val lagW = Window.orderBy($"day_idx")
    daily
      .withColumn("sum7", sum($"rev").over(w7))
      .withColumn("sum28", sum($"rev").over(w28))
      .withColumn("prev7", lag($"sum7", 7).over(lagW))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"rev".cast("double").as("rev"),
        $"sum7".cast("double").as("sum7"),
        $"sum28".cast("double").as("sum28"),
        (($"sum7" - $"prev7").cast("double") / $"prev7".cast("double"))
          .as("wow_growth"))
  }
  val o192: String = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
        date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
          AS day_idx
      FROM orders GROUP BY 1, 3),
    w AS (
      SELECT day, rev, day_idx,
        SUM(rev) OVER (ORDER BY day_idx
          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS sum7,
        SUM(rev) OVER (ORDER BY day_idx
          RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) AS sum28
      FROM daily),
    w2 AS (
      SELECT *, LAG(sum7, 7) OVER (ORDER BY day_idx) AS prev7 FROM w)
    SELECT strftime(day, '%Y-%m-%d') AS day,
      CAST(rev AS DOUBLE) AS rev,
      CAST(sum7 AS DOUBLE) AS sum7,
      CAST(sum28 AS DOUBLE) AS sum28,
      CAST(sum7 - prev7 AS DOUBLE) / CAST(prev7 AS DOUBLE) AS wow_growth
    FROM w2"""

  // ------------------------------------------- behavior path census
  /** Top event-type trigrams per user stream (the "what do users do
    * in sequence" path census, the 3-step extension of q160's Markov
    * transitions). Consecutiveness comes from one keyed window (lag×2
    * over user_id ordered by ts with event_id as total tiebreak) —
    * no self-joins; the census is map-side combined and the top-20 is
    * a k-bounded TakeOrdered, not a global sort. */
  val q193PathTrigrams: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
    Tables.events(s, d)
      .withColumn("a", lag($"event_type", 2).over(w))
      .withColumn("b", lag($"event_type", 1).over(w))
      .filter($"a".isNotNull)
      .groupBy(concat_ws(">", $"a", $"b", $"event_type").as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path".asc)
      .limit(20)
  }
  val o193: String = """
    WITH t AS (
      SELECT event_type,
        LAG(event_type, 2) OVER w AS a,
        LAG(event_type, 1) OVER w AS b
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
    SELECT a || '>' || b || '>' || event_type AS path, COUNT(*) AS n
    FROM t WHERE a IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20"""

  // ------------------------------------------- dedup threshold sweep
  /** Jaccard-threshold calibration sweep: how many near-dup pairs
    * (and distinct dropped docs) survive at each candidate threshold
    * 0.5…0.9 — the "choose the dedup knob" audit every curation run
    * does before committing. ONE q58 pair derivation feeds all five
    * thresholds (the sweep is a 5× in-row explode of the bounded pair
    * set, not five corpus scans); the distinct-doc count is a
    * two-level aggregate, no countDistinct. */
  val q194JaccardSweep: Q = (s, d) => {
    import s.implicits._
    val perDoc = DedupOps.q58JaccardPairs(s, d)
      .select(explode(expr("array(0.5D, 0.6D, 0.7D, 0.8D, 0.9D)"))
        .as("threshold"), $"doc_b", $"jaccard")
      .filter($"jaccard" >= $"threshold")
      .groupBy($"threshold", $"doc_b")
      .agg(count(lit(1)).as("np"))
    perDoc.groupBy($"threshold")
      .agg(sum($"np").cast("long").as("n_pairs"),
        count(lit(1)).as("n_dropped_docs"))
  }
  val o194: String = s"""
    WITH jacc AS (${DedupOps.o58}),
    th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
    perdoc AS (
      SELECT threshold, doc_b, COUNT(*) AS np
      FROM jacc, th WHERE jaccard >= threshold
      GROUP BY 1, 2)
    SELECT threshold, CAST(SUM(np) AS BIGINT) AS n_pairs,
      COUNT(*) AS n_dropped_docs
    FROM perdoc GROUP BY 1"""

  // ------------------------------------------- power iteration
  /** One distributed power-iteration step toward the top eigenvector
    * of the embedding Gram matrix (Σ x·xᵀ): v₁ ∝ Σ x·(x·v₀) with
    * v₀ = (1/8,…,1/8) (exactly dyadic for the 64-dim table). The
    * per-row dot x·v₀ is a fixed left fold (bit-equal across
    * engines); the per-dimension cross-row sum routes through
    * floor(x·p·1e9) int64 (safe to ~2·10⁹ vectors; the decimal lane
    * would lift that) and the 64-entry result normalizes against a
    * decimal-exact Σ s² — every float op from identical integers.
    * The PCA/embedding-whitening building block: matvec as
    * posexplode + keyed census, nothing wider than (dim, sum) ever
    * shuffles. */
  val q195PowerIteration: Q = (s, d) => {
    import s.implicits._
    val withP = Tables.embeddings(s, d)
      .withColumn("p", expr(
        """aggregate(embedding, CAST(0.0 AS DOUBLE),
             (a, x) -> a + CAST(x AS DOUBLE)) * 0.125D"""))
    val sums = withP
      .select(posexplode($"embedding").as(Seq("dim0", "x")), $"p")
      .select(($"dim0" + 1).as("dim"),
        floor($"x".cast("double") * $"p" * lit(1e9)).as("c"))
      .groupBy($"dim")
      .agg(sum($"c").as("sraw"))
    val win = Window.partitionBy() // 64-row census
    sums
      .withColumn("norm2",
        sum($"sraw".cast("decimal(19,0)") * $"sraw".cast("decimal(19,0)"))
          .over(win))
      .select($"dim".cast("long").as("dim"),
        ($"sraw".cast("double") / 1e9).as("component"),
        ($"sraw".cast("double") / sqrt($"norm2".cast("double")))
          .as("v_next"))
  }
  val o195: String = """
    WITH p AS (
      SELECT vec_id, embedding,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(embedding, x -> CAST(x AS DOUBLE))),
          (a, x) -> a + x) * 0.125 AS p
      FROM embeddings),
    c AS (
      SELECT i AS dim,
        CAST(floor(CAST(embedding[i] AS DOUBLE) * p * 1e9) AS BIGINT) AS c
      FROM p, generate_series(1, 64) t(i)),
    sums AS (SELECT dim, SUM(c) AS sraw FROM c GROUP BY 1),
    n AS (SELECT *,
      SUM(CAST(sraw AS DECIMAL(19,0)) * CAST(sraw AS DECIMAL(19,0)))
        OVER () AS norm2 FROM sums)
    SELECT CAST(dim AS BIGINT) AS dim,
      CAST(sraw AS DOUBLE) / 1e9 AS component,
      CAST(sraw AS DOUBLE) / sqrt(CAST(norm2 AS DOUBLE)) AS v_next
    FROM n"""

  // ------------------------------------------------- BM25 retrieval
  /** BM25 top-k retrieval for a fixed conjunctive query, with the
    * classic log-idf replaced by its exact odds argument
    * (N−df+0.5)/(df+0.5) — the q182 convention: no runtime log on
    * either engine, every factor an IEEE op over identical integers
    * (log is monotone, so which documents saturate/win is driven by
    * the same tf/len machinery; the absolute scores are the
    * documented surrogate). Corpus stats (N, Σlen, per-term df) come
    * from ONE single-row census broadcast into the scoring scan;
    * the top-20 is a k-bounded TakeOrdered.
    *
    * 100 TB design: two passes over `documents` (stats census +
    * score), both map-side combined / per-row; no inverted index is
    * materialized because the query is fixed — the per-term tf is a
    * codegen'd in-row filter count. */
  private val Bm25Terms = Seq("spark", "join", "window", "stream")
  // k1+1 and 1−b are bit-exact double derivations (1.0+1.2 == 2.2,
  // 1−0.75 == 0.25), and both spellings interpolate the SAME Scala
  // doubles — editing k1/b propagates to Spark AND the oracle.
  private val (bmK1, bmB) = (1.2, 0.75)
  private val bmK1Plus1 = 1.0 + bmK1
  private val bmOneMinusB = 1.0 - bmB

  val q196Bm25TopK: Q = (s, d) => {
    import s.implicits._
    def tf(t: String) =
      expr(s"CAST(size(filter(split(text, ' '), x -> x = '$t')) AS BIGINT)")
    val base = Tables.documents(s, d)
      .select($"doc_id" +: size(split($"text", " ")).cast("long").as("len") +:
        Bm25Terms.zipWithIndex.map { case (t, i) => tf(t).as(s"tf$i") }: _*)
      .localCheckpoint(eager = false) // one tokenize feeds stats + scoring
    val statCols = sum($"len").as("sum_len") +:
      Bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = base.agg(count(lit(1)).as("n_docs"), statCols: _*)
    val scored = base.crossJoin(broadcast(stats))
      .withColumn("avglen",
        $"sum_len".cast("double") / $"n_docs".cast("double"))
    val termScore = Bm25Terms.indices.map { i =>
      val tfD = col(s"tf$i").cast("double")
      val odds = (($"n_docs" - col(s"df$i")).cast("double") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      odds * (tfD * lit(bmK1Plus1)) /
        (tfD + lit(bmK1) * (lit(bmOneMinusB) + lit(bmB) *
          ($"len".cast("double") / $"avglen")))
    }.reduceLeft(_ + _)
    scored
      .withColumn("score", termScore)
      .filter($"score" > 0.0)
      .select($"doc_id", $"score")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(20)
  }
  val o196: String = {
    val tfs = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n        ")
    val dfs = Bm25Terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n        ")
    val score = Bm25Terms.indices.map { i =>
      s"""((CAST(n_docs - df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))
         * (CAST(tf$i AS DOUBLE) * $bmK1Plus1)
         / (CAST(tf$i AS DOUBLE) + $bmK1 * ($bmOneMinusB + $bmB
            * (CAST(len AS DOUBLE) / avglen)))"""
    }.mkString(" + ")
    s"""
    WITH base AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
        $tfs
      FROM documents),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS sum_len,
        $dfs
      FROM base),
    scored AS (
      SELECT doc_id,
        ($score) AS score
      FROM base CROSS JOIN stats,
        LATERAL (SELECT CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE)
                 AS avglen) a)
    SELECT doc_id, score FROM scored WHERE score > 0.0
    ORDER BY score DESC, doc_id ASC LIMIT 20"""
  }

  // --------------------------------------------- triangle census
  /** Triangle census of the near-dup graph: edges from q60's banded
    * SimHash pairs (a<b), ordered-triple join for triangles, degree
    * census for wedges, global transitivity 3T/W — the graph-shape
    * audit that tells a dedup pipeline whether its pair evidence is
    * clumpy (boilerplate families, high transitivity) or stringy
    * (chains of borderline pairs — exactly where transitive-closure
    * dedup over-merges).
    *
    * 100 TB design: every join is driven by the banding-bounded edge
    * set (never the corpus); the edge frame materializes once and
    * feeds degree census + all three triangle legs. The scalar
    * censuses cross-combine as single-row broadcasts. */
  val q197TriangleCensus: Q = (s, d) => {
    import s.implicits._
    val edges = DedupOps.q60SimHashPairs(s, d)
      .select($"doc_a", $"doc_b").localCheckpoint(eager = false)
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val wedges = edges
      .select(explode(array($"doc_a", $"doc_b")).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
      .agg(sum(expr("deg * (deg - 1) div 2")).cast("long").as("n_wedges"))
    val tri = edges.select($"doc_a".as("a"), $"doc_b".as("b"))
      .join(edges.select($"doc_a".as("b"), $"doc_b".as("c")), Seq("b"))
      .join(edges.select($"doc_a".as("a"), $"doc_b".as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
      .select($"n_edges", $"n_wedges", $"n_triangles",
        when($"n_wedges" > 0,
          lit(3.0) * $"n_triangles".cast("double")
            / $"n_wedges".cast("double"))
          .as("transitivity"))
  }
  val o197: String = s"""
    WITH e AS (SELECT doc_a, doc_b FROM (${DedupOps.o60})),
    ne AS (SELECT COUNT(*) AS n_edges FROM e),
    deg AS (
      SELECT v, COUNT(*) AS deg FROM (
        SELECT doc_a AS v FROM e UNION ALL SELECT doc_b AS v FROM e)
      GROUP BY v),
    w AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
          FROM deg),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a
        JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
    SELECT n_edges, n_wedges, n_triangles,
      CASE WHEN n_wedges > 0 THEN 3.0 * CAST(n_triangles AS DOUBLE)
        / CAST(n_wedges AS DOUBLE) END AS transitivity
    FROM ne CROSS JOIN w CROSS JOIN tri"""

  // ---------------------------------------- quality percentile map
  /** Per-language percent-rank calibration of the quality score:
    * maps every document's raw composite quality onto its [0,1]
    * within-language percentile — the normalization a mixed-corpus
    * quality threshold actually needs (raw score distributions differ
    * by language; percentiles compare like with like). Total order
    * (quality, doc_id) makes rank = row_number, so the classic
    * (rank−1)/(n−1) is deterministic on ties in BOTH engines. The
    * window partitions by language — per-partition sort, no global
    * ordering, scales with the largest language. */
  val q198QualityPercentile: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"lang")
      .orderBy($"quality".asc, $"doc_id".asc)
    Tables.documents(s, d)
      .withColumn("quality", TextOps.qualityCol)
      .select($"doc_id", $"lang", $"quality",
        percent_rank().over(w).as("pctl"))
  }
  val o198: String = s"""
    SELECT doc_id, lang, (${TextOps.qualitySql}) AS quality,
      percent_rank() OVER (PARTITION BY lang
        ORDER BY (${TextOps.qualitySql}) ASC, doc_id ASC) AS pctl
    FROM documents"""

  // ------------------------------------------------ z-order audit
  /** Z-order (Morton) layout audit: interleave 16-bit (order-day,
    * price-bucket) keys with the classic mask-spread ladder, bucket
    * the curve into 4096-wide blocks, and measure what a 64-day date
    * range-scan would read under that layout — blocks touched vs
    * total and the row read-amplification. This is the
    * multi-dimensional clustering primitive (Delta/Iceberg Z-ORDER):
    * computing the key is engine work (pure int64 bit arithmetic,
    * codegen'd per-row), writers then range-partition on it; the
    * audit quantifies the co-location the layout buys BEFORE a
    * petabyte rewrite commits to it.
    *
    * One census aggregation tree: per-block counts + match counts,
    * then a single-row rollup — no joins, no window. */
  private def zSpread(e: String, shl: (String, Int) => String): String = {
    val a = s"(($e | ${shl(e, 8)}) & 16711935)"
    val b = s"(($a | ${shl(a, 4)}) & 252645135)"
    val c = s"(($b | ${shl(b, 2)}) & 858993459)"
    s"(($c | ${shl(c, 1)}) & 1431655765)"
  }

  val q199ZorderAudit: Q = (s, d) => {
    import s.implicits._
    val shl = (x: String, n: Int) => s"shiftleft($x, $n)"
    val day = "datediff(CAST(o_orderdate AS DATE), DATE'1995-01-01')"
    val blocks = Tables.orders(s, d)
      .withColumn("xk", expr(s"CAST($day AS BIGINT) & 65535"))
      .withColumn("yk", expr(
        "CAST(floor(o_totalprice / 1000.0) AS BIGINT) & 65535"))
      .withColumn("z", expr(
        s"${zSpread("xk", shl)} | shiftleft(${zSpread("yk", shl)}, 1)"))
      .withColumn("block", expr("shiftright(z, 12)"))
      .withColumn("m", expr(
        s"CASE WHEN $day BETWEEN 512 AND 575 THEN 1L ELSE 0L END"))
      .groupBy($"block")
      .agg(count(lit(1)).as("n"), sum($"m").as("nm"))
    blocks.agg(
      count(lit(1)).as("blocks_total"),
      sum(when($"nm" > 0, 1L).otherwise(0L)).as("blocks_touched"),
      sum($"nm").cast("long").as("matching_rows"),
      sum(when($"nm" > 0, $"n").otherwise(0L)).cast("long")
        .as("rows_in_touched"))
      .withColumn("read_amplification",
        $"rows_in_touched".cast("double") / $"matching_rows".cast("double"))
  }
  val o199: String = {
    val shl = (x: String, n: Int) => s"($x << $n)"
    val day = "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"
    s"""
    WITH k AS (
      SELECT CAST($day AS BIGINT) & 65535 AS xk,
        CAST(floor(o_totalprice / 1000.0) AS BIGINT) & 65535 AS yk,
        CASE WHEN $day BETWEEN 512 AND 575
          THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS m
      FROM orders),
    z AS (
      SELECT (${zSpread("xk", shl)} | ${shl(zSpread("yk", shl), 1)})
        >> 12 AS block, m FROM k),
    blocks AS (
      SELECT block, COUNT(*) AS n, SUM(m) AS nm FROM z GROUP BY block)
    SELECT COUNT(*) AS blocks_total,
      CAST(SUM(CASE WHEN nm > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS blocks_touched,
      CAST(SUM(nm) AS BIGINT) AS matching_rows,
      CAST(SUM(CASE WHEN nm > 0 THEN n ELSE 0 END) AS BIGINT)
        AS rows_in_touched,
      CAST(SUM(CASE WHEN nm > 0 THEN n ELSE 0 END) AS DOUBLE)
        / CAST(SUM(nm) AS DOUBLE) AS read_amplification
    FROM blocks"""
  }

  // ------------------------------------------- shard-boundary dups
  /** Shard-boundary overlap detection: document A's LAST 8 tokens
    * equal document B's FIRST 8 tokens — the signature of a corpus
    * split on byte boundaries mid-document (each shard half carries
    * the overlap region its splitter duplicated). q167 catches
    * position-zero prefix dups and q174 full containment; this is the
    * remaining seam case. Keys are 8-byte fingerprints of the 8-token
    * head/tail strings (equi-join, never a text join), verified by
    * exact string equality of the overlap region.
    *
    * The synthetic corpus has no natural seams, so the input unions a
    * SPLIT replay: docs (id % 41 = 0, ≥ 24 tokens) re-enter as two
    * half-shards sharing an 8-token overlap (ids at 5·2⁴⁰ + 2k / +1 —
    * the planted-replay recipe, mirrored in the oracle SQL). */
  val q200ShardOverlap: Q = (s, d) => {
    import s.implicits._
    val ov = 8
    val base = Tables.documents(s, d).select($"doc_id", $"source", $"text")
    val splitSrc = base.filter($"doc_id" % 41 === 0)
      .withColumn("ts", split($"text", " "))
      .withColumn("n", size($"ts"))
      .filter($"n" >= 24)
      .withColumn("h", expr("n div 2"))
    val shardA = splitSrc.select(
      ($"doc_id" * 2 + lit(5L << 40)).as("doc_id"), $"source",
      array_join(expr(s"slice(ts, 1, h + ${ov / 2})"), " ").as("text"))
    val shardB = splitSrc.select(
      ($"doc_id" * 2 + lit((5L << 40) + 1)).as("doc_id"), $"source",
      array_join(expr(s"slice(ts, h - ${ov / 2 - 1}, n - h + ${ov / 2})"),
        " ").as("text"))
    // checkpointed: the keyed frame feeds BOTH join sides — without it
    // the scan + planted-split union would execute twice
    val docs = base.unionByName(shardA).unionByName(shardB)
      .withColumn("ts", split($"text", " "))
      .withColumn("n", size($"ts"))
      .filter($"n" >= ov)
      .withColumn("head_s", array_join(expr(s"slice(ts, 1, $ov)"), " "))
      .withColumn("tail_s",
        array_join(expr(s"slice(ts, n - ${ov - 1}, $ov)"), " "))
      .select($"doc_id", $"source", $"head_s", $"tail_s")
      .localCheckpoint(eager = false)
    val tails = docs.select($"doc_id".as("doc_a"), $"source".as("source_a"),
      TextOps.fingerprintOf($"tail_s").as("fp"), $"tail_s")
    val heads = docs.select($"doc_id".as("doc_b"), $"source".as("source_b"),
      TextOps.fingerprintOf($"head_s").as("fp"), $"head_s")
    tails.join(heads, Seq("fp"))
      .filter($"doc_a" =!= $"doc_b" && $"tail_s" === $"head_s")
      .groupBy($"source_a".as("source"))
      .agg(count(lit(1)).as("n_seam_pairs"),
        min($"doc_a").cast("long").as("min_doc_a"))
  }
  val o200: String = {
    val ov = 8
    s"""
    WITH src AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts,
        len(string_split(text, ' ')) AS n,
        len(string_split(text, ' ')) // 2 AS h
      FROM documents WHERE doc_id % 41 = 0
        AND len(string_split(text, ' ')) >= 24),
    docs AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id * 2 + 5497558138880, source,
        array_to_string(ts[1 : h + ${ov / 2}], ' ')
      FROM src
      UNION ALL
      SELECT doc_id * 2 + 5497558138881, source,
        array_to_string(ts[h - ${ov / 2 - 1} : n], ' ')
      FROM src),
    keyed AS (
      SELECT doc_id, source,
        array_to_string(string_split(text, ' ')[1 : $ov], ' ') AS head_s,
        array_to_string(string_split(text, ' ')
          [len(string_split(text, ' ')) - ${ov - 1} :
           len(string_split(text, ' '))], ' ') AS tail_s
      FROM docs WHERE len(string_split(text, ' ')) >= $ov)
    SELECT a.source AS source, COUNT(*) AS n_seam_pairs,
      CAST(MIN(a.doc_id) AS BIGINT) AS min_doc_a
    FROM keyed a JOIN keyed b
      ON a.tail_s = b.head_s AND a.doc_id <> b.doc_id
    GROUP BY a.source"""
  }

  // ---------------------------------------------- k-core peeling
  /** 2-core of the near-dup graph by three unrolled peeling rounds:
    * drop degree-<2 vertices, drop edges that lost an endpoint,
    * repeat — emitting (round, n_nodes, n_edges) so the census shows
    * the graph's loose fringe dissolving and its dense core
    * stabilizing. The dense core is where transitive-closure dedup is
    * trustworthy; chains that vanish by round 2 are the borderline
    * pairs a curation run re-verifies instead of merging. Bounded
    * unrolling (like q171's PageRank) keeps the plan static; every
    * round touches only the banding-bounded edge set. */
  val q201KcorePeel: Q = (s, d) => {
    import s.implicits._
    val e0 = DedupOps.q60SimHashPairs(s, d)
      .select($"doc_a", $"doc_b").localCheckpoint(eager = false)
    def peel(e: DataFrame): DataFrame = {
      val keep = e.select(explode(array($"doc_a", $"doc_b")).as("v"))
        .groupBy($"v").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= 2)
        .select($"v")
      e.join(keep.withColumnRenamed("v", "doc_a"), Seq("doc_a"))
        .join(keep.withColumnRenamed("v", "doc_b"), Seq("doc_b"))
        .select($"doc_a", $"doc_b")
    }
    val e1 = peel(e0).localCheckpoint(eager = false)
    val e2 = peel(e1).localCheckpoint(eager = false)
    val e3 = peel(e2)
    def cens(e: DataFrame, r: Int): DataFrame = {
      val s2 = e.sparkSession
      import s2.implicits._
      val nodes = e.select(explode(array($"doc_a", $"doc_b")).as("v"))
        .distinct().agg(count(lit(1)).as("n_nodes"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      nodes.crossJoin(broadcast(edges)).select(lit(r).as("round"),
        $"n_nodes", $"n_edges")
    }
    cens(e0, 0).unionByName(cens(e1, 1))
      .unionByName(cens(e2, 2)).unionByName(cens(e3, 3))
  }
  val o201: String = s"""
    WITH e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM (${DedupOps.o60})),
    k1 AS MATERIALIZED (SELECT v FROM (
        SELECT v, COUNT(*) AS deg FROM (
          SELECT doc_a AS v FROM e0 UNION ALL SELECT doc_b AS v FROM e0)
        GROUP BY v) WHERE deg >= 2),
    e1 AS MATERIALIZED (SELECT e0.doc_a, e0.doc_b FROM e0
      JOIN k1 a ON a.v = e0.doc_a JOIN k1 b ON b.v = e0.doc_b),
    k2 AS MATERIALIZED (SELECT v FROM (
        SELECT v, COUNT(*) AS deg FROM (
          SELECT doc_a AS v FROM e1 UNION ALL SELECT doc_b AS v FROM e1)
        GROUP BY v) WHERE deg >= 2),
    e2 AS MATERIALIZED (SELECT e1.doc_a, e1.doc_b FROM e1
      JOIN k2 a ON a.v = e1.doc_a JOIN k2 b ON b.v = e1.doc_b),
    k3 AS MATERIALIZED (SELECT v FROM (
        SELECT v, COUNT(*) AS deg FROM (
          SELECT doc_a AS v FROM e2 UNION ALL SELECT doc_b AS v FROM e2)
        GROUP BY v) WHERE deg >= 2),
    e3 AS MATERIALIZED (SELECT e2.doc_a, e2.doc_b FROM e2
      JOIN k3 a ON a.v = e2.doc_a JOIN k3 b ON b.v = e2.doc_b)
    SELECT 0 AS round,
      (SELECT COUNT(*) FROM (SELECT DISTINCT v FROM (
         SELECT doc_a AS v FROM e0 UNION ALL SELECT doc_b AS v FROM e0)))
        AS n_nodes,
      (SELECT COUNT(*) FROM e0) AS n_edges
    UNION ALL SELECT 1,
      (SELECT COUNT(*) FROM (SELECT DISTINCT v FROM (
         SELECT doc_a AS v FROM e1 UNION ALL SELECT doc_b AS v FROM e1))),
      (SELECT COUNT(*) FROM e1)
    UNION ALL SELECT 2,
      (SELECT COUNT(*) FROM (SELECT DISTINCT v FROM (
         SELECT doc_a AS v FROM e2 UNION ALL SELECT doc_b AS v FROM e2))),
      (SELECT COUNT(*) FROM e2)
    UNION ALL SELECT 3,
      (SELECT COUNT(*) FROM (SELECT DISTINCT v FROM (
         SELECT doc_a AS v FROM e3 UNION ALL SELECT doc_b AS v FROM e3))),
      (SELECT COUNT(*) FROM e3)"""

  // ------------------------------------- functional-dependency audit
  /** Functional-dependency audit — the schema-profiling primitive
    * behind key inference and normalization checks: for each candidate
    * FD X→Y, how many X values map to MORE than one Y (violations).
    * Three candidates spanning the spectrum: nation→region (true FD
    * by construction — 0 violations calibrate the audit),
    * brand→type and custkey→priority over the facts (violated —
    * the interesting rows). Each FD is two nested map-side-combined
    * aggregates over its key pair; no countDistinct, no Expand. */
  val q202FdAudit: Q = (s, d) => {
    import s.implicits._
    def fd(name: String, df: DataFrame, x: String, y: String): DataFrame =
      df.select(col(x).as("xk"), col(y).as("yk"))
        .groupBy($"xk", $"yk").agg(count(lit(1)).as("n"))
        .groupBy($"xk").agg(count(lit(1)).as("n_y"))
        .agg(lit(name).as("fd"),
          count(lit(1)).as("n_keys"),
          sum(when($"n_y" > 1, 1L).otherwise(0L)).as("n_violating"))
    fd("nation_region", Tables.nation(s, d), "n_nationkey", "n_regionkey")
      .unionByName(fd("brand_type",
        Tables.part(s, d), "p_brand", "p_type"))
      .unionByName(fd("cust_priority",
        Tables.orders(s, d), "o_custkey", "o_orderpriority"))
      .withColumn("violation_rate",
        $"n_violating".cast("double") / $"n_keys".cast("double"))
  }
  val o202: String = """
    WITH f1 AS (
      SELECT 'nation_region' AS fd, COUNT(*) AS n_keys,
        CAST(SUM(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violating
      FROM (SELECT n_nationkey, COUNT(*) AS n_y FROM
        (SELECT n_nationkey, n_regionkey, COUNT(*) AS n FROM nation
         GROUP BY 1, 2) GROUP BY 1)),
    f2 AS (
      SELECT 'brand_type' AS fd, COUNT(*) AS n_keys,
        CAST(SUM(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violating
      FROM (SELECT p_brand, COUNT(*) AS n_y FROM
        (SELECT p_brand, p_type, COUNT(*) AS n FROM part
         GROUP BY 1, 2) GROUP BY 1)),
    f3 AS (
      SELECT 'cust_priority' AS fd, COUNT(*) AS n_keys,
        CAST(SUM(CASE WHEN n_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violating
      FROM (SELECT o_custkey, COUNT(*) AS n_y FROM
        (SELECT o_custkey, o_orderpriority, COUNT(*) AS n FROM orders
         GROUP BY 1, 2) GROUP BY 1))
    SELECT fd, n_keys, n_violating,
      CAST(n_violating AS DOUBLE) / CAST(n_keys AS DOUBLE)
        AS violation_rate
    FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
          UNION ALL SELECT * FROM f3)"""

  // ------------------------------------- attribution-window sweep
  /** Conversion-window sensitivity sweep: signup→purchase conversion
    * rate under attribution windows of 1 hour / 1 day / 7 days — the
    * q194 calibration pattern applied to funnel policy. ONE scan
    * derives each user's first signup and first post-signup purchase;
    * the three windows are an in-row explode of that bounded per-user
    * census. Integer micros everywhere, one divide per row. */
  val q203AttributionSweep: Q = (s, d) => {
    import s.implicits._
    val perUser = Tables.events(s, d)
      .filter($"event_type".isin("signup", "purchase"))
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "signup", unix_micros($"ts")))
          .as("t_signup"),
        min(when($"event_type" === "purchase", unix_micros($"ts")))
          .as("t_any_purchase"))
      .filter($"t_signup".isNotNull)
    val windowed = Tables.events(s, d)
      .filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("t_p"))
      .join(perUser.select($"user_id", $"t_signup"), Seq("user_id"))
      .filter($"t_p" >= $"t_signup")
      .groupBy($"user_id", $"t_signup")
      .agg(min($"t_p").as("t_conv"))
    val signups = perUser.select($"user_id", $"t_signup")
      .join(windowed.select($"user_id", $"t_conv"), Seq("user_id"), "left")
    signups
      .select($"user_id", $"t_signup", $"t_conv", explode(expr(
        "array(named_struct('w', 'h1',  'us', 3600000000L)," +
          "named_struct('w', 'd1', 'us', 86400000000L)," +
          "named_struct('w', 'd7', 'us', 604800000000L))")).as("win"))
      .groupBy($"win.w".as("window"))
      .agg(count(lit(1)).as("n_signups"),
        sum(when($"t_conv".isNotNull &&
          $"t_conv" - $"t_signup" <= $"win.us", 1L).otherwise(0L))
          .as("n_converted"))
      .withColumn("conversion_rate",
        $"n_converted".cast("double") / $"n_signups".cast("double"))
  }
  val o203: String = """
    WITH su AS (
      SELECT user_id,
        MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
          AS t_signup
      FROM events WHERE event_type IN ('signup', 'purchase')
      GROUP BY 1
      HAVING MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
        IS NOT NULL),
    conv AS (
      SELECT e.user_id, su.t_signup, MIN(epoch_us(e.ts)) AS t_conv
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.t_signup
      GROUP BY 1, 2),
    base AS (
      SELECT su.user_id, su.t_signup, conv.t_conv
      FROM su LEFT JOIN conv ON su.user_id = conv.user_id),
    wins AS (
      SELECT * FROM (VALUES ('h1', 3600000000), ('d1', 86400000000),
        ('d7', 604800000000)) AS t(w, us))
    SELECT w AS "window", COUNT(*) AS n_signups,
      CAST(SUM(CASE WHEN t_conv IS NOT NULL
        AND t_conv - t_signup <= us THEN 1 ELSE 0 END) AS BIGINT)
        AS n_converted,
      CAST(SUM(CASE WHEN t_conv IS NOT NULL
        AND t_conv - t_signup <= us THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS conversion_rate
    FROM base CROSS JOIN wins
    GROUP BY w"""

  // --------------------------------- join-cardinality estimator audit
  /** Join-cardinality estimator audit: for two M:N self-join keys,
    * the EXACT output size Σ c(k)² (from the key census — the join is
    * never executed) against the optimizer-textbook uniform estimate
    * N²/d, with the ratio exposing key skew — the audit behind "why
    * did my self-join explode". All integers until the final ratios;
    * the per-key census is map-side combined. */
  val q204JoinCardAudit: Q = (s, d) => {
    import s.implicits._
    def audit(name: String, df: DataFrame, k: String): DataFrame =
      df.select(col(k).as("k"))
        .groupBy($"k").agg(count(lit(1)).as("c"))
        .agg(lit(name).as("join_key"),
          sum($"c").cast("long").as("n_rows"),
          count(lit(1)).as("n_keys"),
          sum($"c" * $"c").cast("long").as("exact_join_rows"))
    audit("events_user", Tables.events(s, d), "user_id")
      .unionByName(audit("lineitem_part", Tables.lineitem(s, d),
        "l_partkey"))
      .withColumn("est_uniform",
        ($"n_rows" * $"n_rows").cast("double") / $"n_keys".cast("double"))
      .withColumn("skew_factor",
        $"exact_join_rows".cast("double") / $"est_uniform")
  }
  val o204: String = """
    WITH a AS (
      SELECT 'events_user' AS join_key,
        CAST(SUM(c) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
        CAST(SUM(c * c) AS BIGINT) AS exact_join_rows
      FROM (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1)),
    b AS (
      SELECT 'lineitem_part' AS join_key,
        CAST(SUM(c) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
        CAST(SUM(c * c) AS BIGINT) AS exact_join_rows
      FROM (SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1))
    SELECT join_key, n_rows, n_keys, exact_join_rows,
      CAST(n_rows * n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)
        AS est_uniform,
      CAST(exact_join_rows AS DOUBLE)
        / (CAST(n_rows * n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))
        AS skew_factor
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)"""

  // ------------------------------------- session-duration census
  /** Session-shape census: q78's 30-minute gap sessionization rolled
    * into a per-size-bucket distribution (how long and how heavy
    * sessions are by event count) — the session-quality profile an
    * engagement dashboard leads with. Durations are integer seconds;
    * bucket labels are fixed cuts; one keyed window + two censuses. */
  val q205SessionShape: Q = (s, d) => {
    import s.implicits._
    val sessions = EventOps.sessionized(Tables.events(s, d))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        ((max(unix_micros($"ts")) - min(unix_micros($"ts")))
          / lit(1000000L)).cast("long").as("dur_s"))
    sessions
      .groupBy(when($"n_events" === 1, "1")
        .when($"n_events" <= 4, "2-4")
        .when($"n_events" <= 9, "5-9").otherwise("10+")
        .as("size_bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum($"dur_s").cast("long").as("total_dur_s"),
        max($"dur_s").cast("long").as("max_dur_s"),
        (sum($"dur_s").cast("double") / count(lit(1))).as("avg_dur_s"))
  }
  val o205: String = """
    WITH marked AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS session_id, ts
      FROM marked),
    agg AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
        (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS dur_s
      FROM sess GROUP BY 1, 2)
    SELECT CASE WHEN n_events = 1 THEN '1'
                WHEN n_events <= 4 THEN '2-4'
                WHEN n_events <= 9 THEN '5-9' ELSE '10+' END
        AS size_bucket,
      COUNT(*) AS n_sessions,
      CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
      CAST(MAX(dur_s) AS BIGINT) AS max_dur_s,
      CAST(SUM(dur_s) AS DOUBLE) / COUNT(*) AS avg_dur_s
    FROM agg GROUP BY 1"""

  // --------------------------------------------------- k-anonymity
  /** k-anonymity release audit over a generalization ladder — the
    * privacy gate a dataset passes before rows leave the platform:
    * a row is re-identifiable when its quasi-identifier (QI) tuple
    * is shared by fewer than k records. Three ladder rungs in ONE
    * pass via ROLLUP(seg, nat, bal_bucket) — each rung drops the
    * most identifying attribute: (segment, nation, balance-bucket) →
    * (segment, nation) → (segment). Per rung: distinct QI groups,
    * groups under k, and rows at risk (Σ sizes of small groups).
    *
    * 100 TB design: the rollup Expand is ×4 over a THREE-column
    * projection with map-side partial counts — one shuffle keyed on
    * (gid, QI), then a 3-row summary; the alternative is one full
    * scan per rung. No windows, no distinct, exact integers end to
    * end. The oracle states each rung as an explicit aggregate
    * (semantics, not plan). */
  val q209KAnonymity: Q = (s, d) => {
    import s.implicits._
    val k = 5
    val qi = Tables.customer(s, d).select(
      $"c_mktsegment".as("seg"), $"c_nationkey".as("nat"),
      floor($"c_acctbal" / 1000.0).cast("long").as("bal_bucket"))
    // gid bits (MSB = first rollup column): (seg,nat,bal)=0,
    // (seg,nat)=1, (seg)=3, ()=7 — the grand total is not a rung
    val groups = qi.rollup($"seg", $"nat", $"bal_bucket")
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
      .filter($"gid" =!= 7)
    groups.groupBy($"gid")
      .agg(count(lit(1)).as("n_groups"),
        sum(when($"n" < k, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when($"n" < k, $"n").otherwise(0L)).as("rows_at_risk"))
      .select(
        when($"gid" === 0, "seg_nat_bal").when($"gid" === 1, "seg_nat")
          .otherwise("seg").as("rung"),
        $"n_groups", $"n_small_groups", $"rows_at_risk")
  }
  val o209: String = """
    WITH qi AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
      FROM customer),
    g0 AS (SELECT COUNT(*) AS n FROM qi GROUP BY seg, nat, bal_bucket),
    g1 AS (SELECT COUNT(*) AS n FROM qi GROUP BY seg, nat),
    g2 AS (SELECT COUNT(*) AS n FROM qi GROUP BY seg)
    SELECT 'seg_nat_bal' AS rung, COUNT(*) AS n_groups,
      CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_small_groups,
      CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        AS rows_at_risk
    FROM g0
    UNION ALL
    SELECT 'seg_nat', COUNT(*),
      CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
      CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
    FROM g1
    UNION ALL
    SELECT 'seg', COUNT(*),
      CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
      CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
    FROM g2"""

  // ------------------------------------------------------- skyline
  /** Skyline (Pareto-dominance front) — the multi-criteria "best
    * offers" operator: per part, the point (min observed price, total
    * quantity sold); a part is ON the front iff no other part is both
    * cheaper-or-equal AND as-popular-or-more (strictly better in at
    * least one). The classic OLAP operator Spark has no built-in for.
    *
    * 100 TB design, two phases, no quadratic dominance join and no
    * global sort:
    * (1) GRID PRUNE — points bucketed on a fixed price grid; a point
    * whose quantity ≤ the best quantity of ANY strictly-cheaper
    * bucket is dominated by that bucket's witness and dropped
    * in-stream (one ~100-row bucket census window + a broadcast
    * join). By induction the witness chain terminates at a survivor,
    * so the prune is sound. (2) EXACT STAIRCASE, PER BUCKET: the
    * prune leaves NO cross-bucket dominance — every survivor's
    * quantity strictly beats all earlier buckets' best, and later
    * buckets are strictly pricier — so the staircase window can
    * partition by bucket (parallel, bounded by each bucket's
    * surviving price census) instead of a single-task global sort.
    * The only unpartitioned window is the fixed-size bucket census. */
  /** The two-phase skyline core over a (l_partkey, p minimize,
    * q maximize) frame — split out so the prune-soundness property
    * can drive it on arbitrary point sets (InsightSkySpec). */
  private[graft] def skylineOf(pts: DataFrame,
                               bucketWidth: Double): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    val bucketed =
      pts.withColumn("b", floor($"p" / bucketWidth).cast("long"))
    val wb = Window.orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val priorByBucket = bucketed.groupBy($"b")
      .agg(max($"q").as("bmax"))
      .withColumn("bprior", max($"bmax").over(wb))
      .select($"b", $"bprior")
    val surv = bucketed
      .join(broadcast(priorByBucket), Seq("b"))
      .filter($"bprior".isNull || $"q" > $"bprior")
    val wp = Window.partitionBy($"b").orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val stair = surv.groupBy($"b", $"p").agg(max($"q").as("pd"))
      .withColumn("pprior", max($"pd").over(wp))
    surv.join(stair, Seq("b", "p"))
      .filter($"q" === $"pd" && ($"pprior".isNull || $"pd" > $"pprior"))
      .select($"l_partkey", $"p".cast("double").as("best_price"),
        $"q".cast("double").as("total_qty"))
  }

  val q210Skyline: Q = (s, d) => {
    import s.implicits._
    val pts = Tables.lineitem(s, d)
      .groupBy($"l_partkey")
      .agg(min($"l_extendedprice".cast("decimal(18,2)")).as("p"),
        sum($"l_quantity".cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("q"))
    skylineOf(pts, bucketWidth = 1000.0)
  }
  val o210: String = """
    WITH pts AS (
      SELECT l_partkey,
             min(CAST(l_extendedprice AS DECIMAL(18,2))) AS p,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS q
      FROM lineitem GROUP BY 1),
    pc AS (SELECT p, max(q) AS pd FROM pts GROUP BY p),
    st AS (SELECT p, pd, max(pd) OVER (ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pprior
           FROM pc)
    SELECT t.l_partkey, CAST(t.p AS DOUBLE) AS best_price,
           CAST(t.q AS DOUBLE) AS total_qty
    FROM pts t JOIN st ON t.p = st.p
    WHERE t.q = st.pd AND (st.pprior IS NULL OR st.pd > st.pprior)"""

  val queries: Map[String, Q] = Map(
    "q210_skyline" -> q210Skyline,
    "q209_k_anonymity" -> q209KAnonymity,
    "q202_fd_audit" -> q202FdAudit,
    "q203_attribution_sweep" -> q203AttributionSweep,
    "q204_join_card_audit" -> q204JoinCardAudit,
    "q205_session_shape" -> q205SessionShape,
    "q200_shard_overlap" -> q200ShardOverlap,
    "q201_kcore_peel" -> q201KcorePeel,
    "q197_triangle_census" -> q197TriangleCensus,
    "q198_quality_percentile" -> q198QualityPercentile,
    "q199_zorder_audit" -> q199ZorderAudit,
    "q192_trailing_revenue" -> q192TrailingRevenue,
    "q193_path_trigrams" -> q193PathTrigrams,
    "q194_jaccard_sweep" -> q194JaccardSweep,
    "q195_power_iteration" -> q195PowerIteration,
    "q196_bm25_topk" -> q196Bm25TopK,
    "q185_rfm_segments" -> q185RfmSegments,
    "q186_basket_lift" -> q186BasketLift,
    "q187_weighted_sample" -> q187WeightedSample,
    "q188_matryoshka_audit" -> q188MatryoshkaAudit,
    "q189_dup_meta_conflict" -> q189DupMetaConflict,
    "q190_source_quota" -> q190SourceQuota,
    "q191_decay_engagement" -> q191DecayEngagement)

  val oracles: Map[String, String] = Map(
    "q210_skyline" -> o210,
    "q209_k_anonymity" -> o209,
    "q202_fd_audit" -> o202,
    "q203_attribution_sweep" -> o203,
    "q204_join_card_audit" -> o204,
    "q205_session_shape" -> o205,
    "q200_shard_overlap" -> o200,
    "q201_kcore_peel" -> o201,
    "q197_triangle_census" -> o197,
    "q198_quality_percentile" -> o198,
    "q199_zorder_audit" -> o199,
    "q192_trailing_revenue" -> o192,
    "q193_path_trigrams" -> o193,
    "q194_jaccard_sweep" -> o194,
    "q195_power_iteration" -> o195,
    "q196_bm25_topk" -> o196,
    "q185_rfm_segments" -> o185,
    "q186_basket_lift" -> o186,
    "q187_weighted_sample" -> o187,
    "q188_matryoshka_audit" -> o188,
    "q189_dup_meta_conflict" -> o189,
    "q190_source_quota" -> o190,
    "q191_decay_engagement" -> o191)
}
