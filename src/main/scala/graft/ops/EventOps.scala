package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-log operators: semi-structured JSON extraction and batch
  * sessionization — the batch twins of the streaming module.
  */
object EventOps {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------- JSON
  /** JSON property extraction from the `props` payload column —
    * `get_json_object` stays inside codegen; no UDF, no full parse. */
  val q77JsonExtract: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("k",
        get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"k").as("sum_k"),
        sum(when($"k" > 50, 1L).otherwise(0L)).as("n_high"),
        sum(when($"k".isNull, 1L).otherwise(0L)).as("n_null"))
  }
  val o77 = """
    SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(k) AS BIGINT) AS sum_k,
      CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
    FROM (SELECT event_type,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type"""

  // ---------------------------------------------------- sessionization
  /** `events` plus `session_id`: per user, in (ts, event_id) order, a
    * new session starts where the gap from the previous event exceeds
    * 30 minutes (the streaming module's gap rule as a window query);
    * the id is the running count of starts. */
  private[ops] def sessionized(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts"))
            > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Batch sessionization: [[sessionized]] events, one row per
    * session. */
  val q78SessionizeBatch: Q = (s, d) => {
    import s.implicits._
    sessionized(Tables.events(s, d))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        date_format(min($"ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max($"ts"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        (sum($"value".cast("decimal(28,2)")) * 100).cast("long")
          .as("value_cents"))
  }
  val o78 = """
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        AS session_id
      FROM marked)
    SELECT user_id, session_id, COUNT(*) AS n_events,
      strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      CAST(SUM(CAST(value AS DECIMAL(28,2))) * 100 AS BIGINT) AS value_cents
    FROM numbered GROUP BY user_id, session_id"""

  // ------------------------------------------------------------ funnel
  /** Ordered conversion funnel view → click → purchase: each stage's
    * entry time is the user's first qualifying event STRICTLY AFTER
    * the previous stage's entry — the classic product-analytics
    * operator. Three user-keyed aggregates, each joined to the
    * previous stage's (small, shrinking) user set; every shuffle is on
    * user_id with map-side combine, and the final census is one row.
    * At 100 TB the stage tables shrink monotonically, so the chain is
    * broadcast-friendly after stage 1. */
  val q92Funnel: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = ev.filter($"event_type" === "click")
      .join(v, Seq("user_id")).filter($"ts" > $"t_view")
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = ev.filter($"event_type" === "purchase")
      .join(c, Seq("user_id")).filter($"ts" > $"t_click")
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      .withColumn("click_rate",
        $"n_click".cast("double") / $"n_view".cast("double"))
      .withColumn("purchase_rate",
        $"n_purchase".cast("double") / $"n_click".cast("double"))
  }
  val o92 = """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT nv AS n_view, nc AS n_click, np AS n_purchase,
      CAST(nc AS DOUBLE) / CAST(nv AS DOUBLE) AS click_rate,
      CAST(np AS DOUBLE) / CAST(nc AS DOUBLE) AS purchase_rate
    FROM (SELECT COUNT(*) AS nv FROM v),
         (SELECT COUNT(*) AS nc FROM c),
         (SELECT COUNT(*) AS np FROM p)"""

  // ------------------------------------------------------------ cohort
  /** Cohort retention: users grouped by first-active day; a cohort
    * member counts as day-1 retained if active the very next day and
    * week-2 retained if active on any of days 7–13. Two user-keyed
    * aggregates over the (user, active-day) distinct set — the
    * hot-user skew collapses in the distinct's map-side combine. */
  val q93CohortRetention: Q = (s, d) => {
    import s.implicits._
    val days = Tables.events(s, d)
      .select($"user_id", $"ts".cast("date").as("day")).distinct()
    val cohort = days.groupBy($"user_id")
      .agg(min($"day").as("cohort_day"))
    val flags = days.join(cohort, Seq("user_id"))
      .withColumn("dd", datediff($"day", $"cohort_day"))
      .groupBy($"user_id", $"cohort_day")
      .agg(max(when($"dd" === 1, 1L).otherwise(0L)).as("d1"),
        max(when($"dd" >= 7 && $"dd" <= 13, 1L).otherwise(0L)).as("w2"))
    flags.groupBy(date_format($"cohort_day", "yyyy-MM-dd")
        .as("cohort_day"))
      .agg(count(lit(1)).as("n_users"),
        sum($"d1").cast("long").as("n_retained_d1"),
        sum($"w2").cast("long").as("n_retained_w2"))
      .withColumn("d1_pct",
        $"n_retained_d1".cast("double") * 100.0
          / $"n_users".cast("double"))
      .withColumn("w2_pct",
        $"n_retained_w2".cast("double") * 100.0
          / $"n_users".cast("double"))
  }
  val o93 = """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    cohort AS (
      SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id),
    flags AS (
      SELECT d.user_id, c.cohort_day,
        MAX(CASE WHEN date_diff('day', c.cohort_day, d.day) = 1
                 THEN 1 ELSE 0 END) AS d1,
        MAX(CASE WHEN date_diff('day', c.cohort_day, d.day) BETWEEN 7
                   AND 13 THEN 1 ELSE 0 END) AS w2
      FROM days d JOIN cohort c ON d.user_id = c.user_id
      GROUP BY d.user_id, c.cohort_day)
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
      COUNT(*) AS n_users,
      CAST(SUM(d1) AS BIGINT) AS n_retained_d1,
      CAST(SUM(w2) AS BIGINT) AS n_retained_w2,
      CAST(SUM(d1) AS DOUBLE) * 100.0 / CAST(COUNT(*) AS DOUBLE)
        AS d1_pct,
      CAST(SUM(w2) AS DOUBLE) * 100.0 / CAST(COUNT(*) AS DOUBLE)
        AS w2_pct
    FROM flags GROUP BY cohort_day"""

  // ------------------------------------------------------ as-of join
  /** AS-OF join (each purchase matched to the user's latest signup at
    * or before it) spelled the scale-correct way: UNION the two sides,
    * ONE shuffle on the key, and a running `last(ignoreNulls)` window
    * carries the reference value forward — no join, no per-row rank
    * filter, no candidate explosion. Equal timestamps resolve
    * reference-first (is_ref desc in the sort), giving ≤ ("at or
    * before") semantics deterministically on both engines. The
    * standard custom-operator ask Spark has no built-in for. */
  val q94AsofJoin: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val refs = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"event_id", lit(1L).as("is_ref"),
        $"value".as("ref_value"))
    val facts = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", lit(0L).as("is_ref"),
        lit(null).cast("double").as("ref_value"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"is_ref".desc, $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    refs.unionByName(facts)
      .withColumn("signup_value", last($"ref_value", true).over(w))
      .withColumn("signup_ts_us",
        last(when($"is_ref" === 1, unix_micros($"ts")), true).over(w))
      .filter($"is_ref" === 0)
      .select($"event_id", $"user_id",
        unix_micros($"ts").as("ts_us"),
        $"signup_value", $"signup_ts_us",
        (unix_micros($"ts") - $"signup_ts_us").as("us_since_signup"))
  }
  val o94 = """
    WITH both_sides AS (
      SELECT user_id, ts, event_id, 1 AS is_ref, value AS ref_value
      FROM events WHERE event_type = 'signup'
      UNION ALL
      SELECT user_id, ts, event_id, 0 AS is_ref, NULL AS ref_value
      FROM events WHERE event_type = 'purchase'),
    carried AS (
      SELECT *,
        last_value(ref_value IGNORE NULLS) OVER w AS signup_value,
        last_value(CASE WHEN is_ref = 1 THEN epoch_us(ts) END
          IGNORE NULLS) OVER w AS signup_ts_us
      FROM both_sides
      WINDOW w AS (PARTITION BY user_id
        ORDER BY ts, is_ref DESC, event_id ROWS UNBOUNDED PRECEDING))
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      signup_value, signup_ts_us,
      epoch_us(ts) - signup_ts_us AS us_since_signup
    FROM carried WHERE is_ref = 0"""

  /** As-of semantics through the engine's CUSTOM PHYSICAL OPERATOR
    * (`graft.plans.AsOfJoinExec` — LogicalPlan + cost-based Strategy +
    * merge/broadcast SparkPlans via GraftExtensions). The reference
    * side pre-aggregates to one row per (user, ts) — max value — so
    * the operator's pick among equal-time refs is deterministic by
    * construction; the oracle is DuckDB's own native ASOF LEFT JOIN
    * over the identically pre-aggregated refs, putting the custom
    * operator itself under the correctness gate. */
  val q97AsofNative: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
    val refs = ev.filter($"event_type" === "signup")
      .groupBy($"user_id", $"ts")
      .agg(max($"value").as("signup_value"))
      .withColumn("signup_ts_us", unix_micros($"ts"))
    val facts = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    graft.plans.AsOf.join(facts, refs, "user_id", "ts",
        Seq("signup_value", "signup_ts_us"))
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
        $"signup_value", $"signup_ts_us",
        (unix_micros($"ts") - $"signup_ts_us").as("us_since_signup"))
  }
  val o97 = """
    WITH refs AS (
      SELECT user_id, ts, MAX(value) AS signup_value,
             epoch_us(ts) AS signup_ts_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
    facts AS (
      SELECT user_id, ts, event_id
      FROM events WHERE event_type = 'purchase')
    SELECT f.event_id, f.user_id, epoch_us(f.ts) AS ts_us,
      r.signup_value, r.signup_ts_us,
      epoch_us(f.ts) - r.signup_ts_us AS us_since_signup
    FROM facts f ASOF LEFT JOIN refs r
      ON f.user_id = r.user_id AND f.ts >= r.ts"""

  // ------------------------------------------------- rolling median
  /** Exact 7-day rolling MEDIAN of daily per-type revenue — the
    * robust-trend operator percentile_approx cannot oracle (its sketch
    * is implementation-defined). Exact spelling: the window frame is
    * at most 7 rows, so collect → sort → lower-middle element is both
    * cheap and engine-identical; revenue goes through cents so the
    * medians are exact integers. */
  val q95RollingMedian: Q = (s, d) => {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"event_type", $"ts".cast("date").as("d"))
      .agg((sum($"value".cast("decimal(28,2)")) * 100).cast("long")
        .as("daily_cents"))
    val w = Window.partitionBy($"event_type").orderBy($"d")
      .rowsBetween(-6, 0)
    daily
      .withColumn("arr", array_sort(collect_list($"daily_cents").over(w)))
      .select($"event_type", date_format($"d", "yyyy-MM-dd").as("d"),
        $"daily_cents",
        element_at($"arr", expr("int((size(arr) + 1) div 2)"))
          .as("med7_cents"))
  }
  val o95 = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
        CAST(SUM(CAST(value AS DECIMAL(28,2))) * 100 AS BIGINT)
          AS daily_cents
      FROM events GROUP BY 1, 2),
    windowed AS (
      SELECT event_type, d, daily_cents,
        list_sort(list(daily_cents) OVER (PARTITION BY event_type
          ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
      FROM daily)
    SELECT event_type, strftime(d, '%Y-%m-%d') AS d, daily_cents,
      arr[(len(arr) + 1) // 2] AS med7_cents
    FROM windowed"""

  // ---------------------------------------------- feature snapshot
  /** Per-user feature snapshot as of a cutoff — the feature-
    * engineering mart an events stream feeds into model training:
    * activity counts (total and trailing-7-day), active-day and
    * event-type cardinalities, purchase count, recency, and exact
    * decimal-routed value sums. Everything derives from events
    * STRICTLY BEFORE the cutoff so the snapshot is leakage-free and
    * reproducible (the property a training pipeline audits first).
    *
    * 100 TB design: ONE aggregate keyed on user_id with map-side
    * combine (the distincts expand to the standard two-phase plan);
    * the date filter prunes at the scan. A production mart writes one
    * snapshot per training date with the same projection. */
  val q120FeatureSnapshot: Q = (s, d) => {
    import s.implicits._
    val cutoff = lit("2024-01-21").cast("date")
    val w7 = lit("2024-01-14").cast("date")
    Tables.events(s, d)
      .withColumn("day", $"ts".cast("date"))
      .filter($"day" < cutoff)
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct($"day").as("n_active_days"),
        countDistinct($"event_type").as("n_types"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .cast("long").as("n_purchases"),
        datediff(cutoff, max($"day")).cast("long").as("recency_days"),
        sum($"value".cast("decimal(30,8)")).cast("double")
          .as("total_value"),
        sum(when($"day" >= w7, 1L).otherwise(0L)).cast("long")
          .as("n_events_7d"),
        coalesce(
          sum(when($"day" >= w7, $"value".cast("decimal(30,8)")))
            .cast("double"),
          lit(0.0)).as("value_7d"))
  }
  val o120 = """
    SELECT user_id, COUNT(*) AS n_events,
      COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days,
      COUNT(DISTINCT event_type) AS n_types,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        AS BIGINT) AS n_purchases,
      CAST(date_diff('day', MAX(CAST(ts AS DATE)), DATE '2024-01-21')
        AS BIGINT) AS recency_days,
      CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total_value,
      CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-14'
               THEN 1 ELSE 0 END) AS BIGINT) AS n_events_7d,
      COALESCE(CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-14'
        THEN CAST(value AS DECIMAL(30,8)) END) AS DOUBLE), 0.0)
        AS value_7d
    FROM events
    WHERE CAST(ts AS DATE) < DATE '2024-01-21'
    GROUP BY user_id"""

  // ------------------------------------------------- winsorization
  /** Percentile winsorization: clip `value` to its per-event-type
    * exact [P01, P99] — the standard long-tail guard before a numeric
    * column feeds model training or z-scored monitoring (one fat-
    * finger refund otherwise dominates both).
    *
    * 100 TB design: the quantile comes from a DISTINCT-VALUE census
    * (money is discrete cents), so the rank scan is a window over the
    * per-type value census — bounded by distinct prices, not event
    * rows; no corpus-scale sort, no sketch approximation. The cut
    * table (one row per type) broadcasts back onto the event scan.
    * Everything stays in exact int64 cents; no float compare decides
    * a clip. */
  val q129Winsorize: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"event_id", $"event_type",
        ($"value".cast("decimal(28,2)") * 100).cast("long").as("cents"))
    val census = ev.groupBy($"event_type", $"cents")
      .agg(count(lit(1)).as("cnt"))
    val cum = census
      .withColumn("cum", sum($"cnt").over(
        Window.partitionBy($"event_type").orderBy($"cents".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n",
        sum($"cnt").over(Window.partitionBy($"event_type")))
    val cuts = cum.groupBy($"event_type")
      .agg(min(when($"cum" >= ceil(lit(0.01) * $"n"), $"cents")).as("p01"),
        min(when($"cum" >= ceil(lit(0.99) * $"n"), $"cents")).as("p99"))
    ev.join(broadcast(cuts), Seq("event_type"))
      .withColumn("cents_w", least(greatest($"cents", $"p01"), $"p99"))
      .select($"event_id", $"event_type", $"cents", $"cents_w",
        ($"cents" =!= $"cents_w").cast("long").as("clipped"))
  }
  val o129 = """
    WITH ev AS (
      SELECT event_id, event_type,
        CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
      FROM events),
    census AS (
      SELECT event_type, cents, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
    cum AS (
      SELECT event_type, cents,
        SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM census),
    cuts AS (
      SELECT event_type,
        MIN(CASE WHEN cum >= ceil(0.01 * n) THEN cents END) AS p01,
        MIN(CASE WHEN cum >= ceil(0.99 * n) THEN cents END) AS p99
      FROM cum GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.cents,
      least(greatest(e.cents, c.p01), c.p99) AS cents_w,
      CAST(e.cents <> least(greatest(e.cents, c.p01), c.p99) AS BIGINT)
        AS clipped
    FROM ev e JOIN cuts c USING (event_type)"""

  // -------------------------------------------- behavior sequences
  /** Behavior-sequence construction: per session (q78's 30-minute gap
    * rule), the time-ordered event-type sequence as one string — the
    * training example a sequence recommender / next-event model
    * consumes. Ordering is (ts, event_id) — data-defined, so both
    * engines and every rerun build the identical sequence.
    *
    * 100 TB design: one keyed shuffle on user_id feeds both the
    * session numbering windows and the per-session aggregate (same
    * key, exchange reused); sequences materialize per SESSION (bounded
    * by the gap rule), never per user history. */
  val q130SessionSeq: Q = (s, d) => {
    import s.implicits._
    sessionized(Tables.events(s, d))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(expr(
          """transform(
               array_sort(collect_list(named_struct(
                 't', unix_micros(ts), 'e', event_id, 'et', event_type))),
               x -> x.et)"""), " ").as("seq"))
  }
  val o130 = """
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        AS session_id
      FROM marked)
    SELECT user_id, session_id, COUNT(*) AS n_events,
      string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq
    FROM numbered GROUP BY user_id, session_id"""

  // ------------------------------------------- Markov transitions
  /** First-order Markov transition census over user event streams:
    * (from_type → to_type) transition counts in (ts, event_id) order
    * per user, with the row-conditional P(to | from) — the
    * sequence-model census behind next-event prediction, journey
    * mining, and impossible-transition anomaly flags (q130 emits the
    * sequences; this is their aggregated model).
    *
    * 100 TB design: ONE keyed window (lag per user) feeding a
    * map-side-combined census bounded by types²; the per-from totals
    * are a types-bounded broadcast. P is a single IEEE division of
    * exact counts — hash-identical cross-engine. */
  val q160MarkovTransitions: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val census = Tables.events(s, d)
      .withColumn("from_type", lag($"event_type", 1).over(w))
      .filter($"from_type".isNotNull)
      .groupBy($"from_type", $"event_type")
      .agg(count(lit(1)).as("n"))
    val totals = census.groupBy($"from_type")
      .agg(sum($"n").cast("long").as("tot"))
    census.join(broadcast(totals), Seq("from_type"))
      .select($"from_type", $"event_type".as("to_type"),
        $"n".cast("long").as("n"),
        ($"n".cast("double") / $"tot".cast("double")).as("p"))
  }
  val o160 = """
    WITH trans AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS from_type,
             event_type AS to_type
      FROM events),
    census AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM trans WHERE from_type IS NOT NULL GROUP BY 1, 2),
    tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
      FROM census GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n,
      CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
    FROM census c JOIN tot t USING (from_type)"""

  // ------------------------------------------- rolling active users
  /** DAU / trailing-7-day WAU / stickiness per day — the activity
    * triple on every growth dashboard. The naive spelling is a
    * per-day COUNT(DISTINCT user) OVER a 7-day RANGE window (what the
    * oracle runs); engines can't do windowed distincts, and a
    * self-join-per-window shuffles the fact table 7×.
    *
    * 100 TB design: dedup to (user, day) first (map-side combine
    * collapses the fact table), then each user-day row serves the 7
    * window ends it belongs to via a sequence explode — a bounded 7×
    * fanout of the ALREADY-DEDUPED table — and one keyed distinct
    * aggregate per window end. The explode+equi-join replaces a range
    * join; the final censuses are day-cardinality-bounded. */
  val q131RollingActive: Q = (s, d) => {
    import s.implicits._
    val userDays = Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val days = userDays.select($"day".as("w_end")).distinct()
    val wau = userDays
      .withColumn("w_end",
        explode(expr("sequence(day, date_add(day, 6))")))
      .join(days, Seq("w_end"))
      .groupBy($"w_end".as("day"))
      .agg(countDistinct($"user_id").as("wau"))
    val dau = userDays.groupBy($"day")
      .agg(count(lit(1)).as("dau"))
    dau.join(wau, Seq("day"))
      .withColumn("stickiness",
        $"dau".cast("double") / $"wau".cast("double"))
      .select($"day".cast("string").as("day"),
        $"dau", $"wau", $"stickiness")
  }
  val o131 = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT day AS w_end FROM ud),
    wau AS (
      SELECT d.w_end AS day, COUNT(DISTINCT ud.user_id) AS wau
      FROM ud JOIN days d
        ON d.w_end >= ud.day AND d.w_end <= ud.day + INTERVAL 6 DAY
      GROUP BY 1),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1)
    SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
      CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day"""

  // ------------------------------------------------------ cube mart
  /** Multi-granularity cube mart: all four (event_type × day)
    * grouping combinations — detail, per-type, per-day, grand total —
    * in ONE aggregation pass with `grouping_id` tagging which level a
    * row belongs to. This is how a reporting layer serves every
    * drill-down from a single materialization instead of four queries
    * (q09's pivot+TOTAL is the 2-level special case).
    *
    * 100 TB design: Spark expands the input ×4 grouping sets and
    * map-side combines each — one shuffle keyed on (gid, keys); no
    * re-scan per level. Money through exact decimal cents. */
  val q133CubeMart: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("day", to_date($"ts").cast("string"))
      .cube($"event_type", $"day")
      .agg(count(lit(1)).as("n_events"),
        (sum($"value".cast("decimal(28,2)")) * 100).cast("long")
          .as("cents"),
        grouping_id().cast("long").as("gid"))
  }
  val o133 = """
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(28,2))) * 100 AS BIGINT) AS cents,
      CAST(GROUPING(event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d'))
        AS BIGINT) AS gid
    FROM events
    GROUP BY CUBE(event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d'))"""

  // ---------------------------------------------- type co-occurrence
  /** Session co-occurrence matrix with lift — the market-basket census
    * behind "users who X also Y" features and recommendation priors:
    * for every unordered event-type pair, in how many sessions (q78's
    * 30-minute rule) both occur, and the lift vs independence.
    *
    * 100 TB design: sessions reduce to their DISTINCT type set first
    * (bounded by |types|, not session length), pairs generate IN-ROW
    * from the sorted set (q58's posting-list trick — no self-join of
    * the session table), and the final censuses are types²-bounded.
    * Lift divides exact integer counts in one identical expression on
    * both engines. */
  val q137TypeCooccurrence: Q = (s, d) => {
    import s.implicits._
    val st = sessionized(Tables.events(s, d))
      .select($"user_id", $"session_id", $"event_type").distinct()
    val sets = st.groupBy($"user_id", $"session_id")
      .agg(array_sort(collect_set($"event_type")).as("types"))
      .localCheckpoint(eager = false) // feeds totals, marginals AND pairs
    val nSessions = sets.count()
    val marg = sets
      .select(explode($"types").as("t"))
      .groupBy($"t").agg(count(lit(1)).as("n_t"))
    val pairs = sets
      .filter(size($"types") >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(types) - 1), i ->
             transform(slice(types, i + 1, size(types) - i), x ->
               named_struct('a', element_at(types, i), 'b', x))))"""))
        .as("p"))
      .groupBy($"p.a".as("type_a"), $"p.b".as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marg.select($"t".as("type_a"), $"n_t".as("na"))),
        Seq("type_a"))
      .join(broadcast(marg.select($"t".as("type_b"), $"n_t".as("nb"))),
        Seq("type_b"))
      .withColumn("lift",
        $"n_both".cast("double") * lit(nSessions).cast("double")
          / ($"na".cast("double") * $"nb".cast("double")))
      .select($"type_a", $"type_b", $"n_both", $"lift")
  }
  val o137 = """
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        AS session_id
      FROM marked),
    st AS (SELECT DISTINCT user_id, session_id, event_type
           FROM numbered),
    tot AS (SELECT COUNT(*) AS n FROM
             (SELECT DISTINCT user_id, session_id FROM st)),
    marg AS (SELECT event_type AS t, COUNT(*) AS n_t FROM st GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, n_both,
      CAST(n_both AS DOUBLE) * CAST(tot.n AS DOUBLE)
        / (CAST(ma.n_t AS DOUBLE) * CAST(mb.n_t AS DOUBLE)) AS lift
    FROM pairs, tot
    JOIN marg ma ON ma.t = type_a
    JOIN marg mb ON mb.t = type_b"""

  // ------------------------------------------- retention triangle
  /** Full cohort-retention triangle: per (first-active week, weeks
    * since), distinct retained users and the retention percentage —
    * the complete grid behind every retention chart (q93 is its
    * d1/w2 two-column slice).
    *
    * 100 TB design: activity reduces to DISTINCT (user, week) before
    * anything else (the fact-table collapse); the cohort join is
    * keyed on user_id; the triangle census is weeks²-bounded. */
  val q138RetentionTriangle: Q = (s, d) => {
    import s.implicits._
    val weeks = Tables.events(s, d)
      .select($"user_id",
        date_trunc("week", $"ts").cast("date").as("week")).distinct()
    val cohort = weeks.groupBy($"user_id")
      .agg(min($"week").as("cohort_week"))
    val sizes = cohort.groupBy($"cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    weeks.join(cohort, Seq("user_id"))
      .withColumn("week_offset",
        (datediff($"week", $"cohort_week") / 7).cast("long"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
      .join(sizes, Seq("cohort_week"))
      .withColumn("retention_pct",
        $"n_active".cast("double") * 100.0
          / $"cohort_size".cast("double"))
      .select(date_format($"cohort_week", "yyyy-MM-dd").as("cohort_week"),
        $"week_offset", $"cohort_size", $"n_active", $"retention_pct")
  }
  val o138 = """
    WITH weeks AS (
      SELECT DISTINCT user_id,
        CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events),
    cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1),
    sizes AS (
      SELECT cohort_week, COUNT(*) AS cohort_size FROM cohort GROUP BY 1),
    tri AS (
      SELECT c.cohort_week,
        CAST(date_diff('day', c.cohort_week, w.week) // 7 AS BIGINT)
          AS week_offset,
        COUNT(DISTINCT w.user_id) AS n_active
      FROM weeks w JOIN cohort c USING (user_id)
      GROUP BY 1, 2)
    SELECT strftime(t.cohort_week, '%Y-%m-%d') AS cohort_week,
      t.week_offset, s.cohort_size, t.n_active,
      CAST(t.n_active AS DOUBLE) * 100.0 / CAST(s.cohort_size AS DOUBLE)
        AS retention_pct
    FROM tri t JOIN sizes s USING (cohort_week)"""

  // ------------------------------------------------ sweep-line backlog
  /** Open-order backlog per day — how many orders are placed but not
    * yet fully shipped on each calendar day — via the SWEEP-LINE
    * spelling: each order contributes a +1 event at placement and a
    * −1 after its last shipment, and a running sum over the daily
    * event census is the backlog. The naive spelling is a per-day
    * range join (`day BETWEEN start AND end`) that explodes
    * days×orders; the sweep line shuffles two rows per order and
    * windows over the DAY census (calendar-bounded).
    *
    * 100 TB design: the order-interval build is one keyed agg on
    * orderkey; deltas census map-side combines to one row per
    * (day, ±); the running sum's global window rides the tiny daily
    * census, never order rows. */
  val q139BacklogSweep: Q = (s, d) => {
    import s.implicits._
    val iv = Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(max($"l_shipdate".cast("date")).as("last_ship"))
      .join(Tables.orders(s, d)
        .select($"o_orderkey".as("l_orderkey"),
          $"o_orderdate".cast("date").as("placed")),
        Seq("l_orderkey"))
    val deltas = iv.select($"placed".as("day"), lit(1L).as("delta"))
      .unionByName(iv.select(date_add($"last_ship", 1).as("day"),
        lit(-1L).as("delta")))
      .groupBy($"day").agg(sum($"delta").as("net"))
    deltas
      .withColumn("backlog", sum($"net").over(
        Window.orderBy($"day".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .filter($"backlog" > 0 || $"net" =!= 0)
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"net".cast("long").as("net"), $"backlog")
  }
  val o139 = """
    WITH iv AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS placed,
             MAX(CAST(l.l_shipdate AS DATE)) AS last_ship
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    deltas AS (
      SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM (
        SELECT placed AS day, 1 AS delta FROM iv
        UNION ALL
        SELECT last_ship + INTERVAL 1 DAY, -1 FROM iv)
      GROUP BY day),
    run AS (
      SELECT day, net,
        CAST(SUM(net) OVER (ORDER BY day ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS backlog
      FROM deltas)
    SELECT strftime(CAST(day AS DATE), '%Y-%m-%d') AS day, net, backlog
    FROM run WHERE backlog > 0 OR net <> 0"""

  // ------------------------------------------- incremental mart merge
  /** Incremental aggregation maintenance: yesterday's pre-aggregated
    * mart plus today's delta partition re-aggregate into the updated
    * mart — the algebra every incremental ETL relies on (counts and
    * exact decimal cents are decomposable; averages are not, which is
    * why the mart stores the sum/count parts). The ORACLE is the full
    * recompute over all events, so the check proves the partial-merge
    * algebra is exactly lossless, not just close.
    *
    * 100 TB design: only the delta partition is scanned at run time
    * (the state side is a mart read); the merge shuffles mart-grain
    * rows, never raw events. */
  val q141IncrementalMart: Q = (s, d) => {
    import s.implicits._
    val cutoff = lit("2024-01-21").cast("date")
    def mart(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"),
        (sum($"value".cast("decimal(28,2)")) * 100).cast("long")
          .as("cents"))
    val state = mart(Tables.events(s, d)
      .filter(to_date($"ts") < cutoff)) // stands in for the stored mart
    val delta = mart(Tables.events(s, d)
      .filter(to_date($"ts") >= cutoff))
    state.unionByName(delta)
      .groupBy($"event_type", $"day")
      .agg(sum($"n_events").cast("long").as("n_events"),
        sum($"cents").cast("long").as("cents"))
      .select($"event_type", $"day".cast("string").as("day"),
        $"n_events", $"cents")
  }
  val o141 = """
    SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(28,2))) * 100 AS BIGINT) AS cents
    FROM events
    GROUP BY 1, 2"""

  // ------------------------------------------------ growth accounting
  /** Weekly growth accounting: every active user classifies as NEW
    * (first week ever), RETAINED (also active the previous week) or
    * RESURRECTED (returning after a gap), and churn is the identity
    * remainder `churned(w) = active(w-1) − retained(w)` — the growth
    * ledger every subscription/engagement report reconciles to.
    *
    * 100 TB design: activity collapses to distinct (user, week) first;
    * classification is a lag window per user over WEEK-grain rows
    * (≤52/user/year, never event rows); churn joins two week-level
    * censuses. */
  val q142GrowthAccounting: Q = (s, d) => {
    import s.implicits._
    val uw = Tables.events(s, d)
      .select($"user_id",
        date_trunc("week", $"ts").cast("date").as("week")).distinct()
    val byUser = Window.partitionBy($"user_id").orderBy($"week".asc)
    val classified = uw
      .withColumn("prev_week", lag($"week", 1).over(byUser))
      .withColumn("kind",
        when($"prev_week".isNull, "new")
          .when(datediff($"week", $"prev_week") === 7, "retained")
          .otherwise("resurrected"))
    val census = classified.groupBy($"week")
      .agg(count(lit(1)).as("n_active"),
        sum(when($"kind" === "new", 1L).otherwise(0L)).cast("long")
          .as("n_new"),
        sum(when($"kind" === "retained", 1L).otherwise(0L)).cast("long")
          .as("n_retained"),
        sum(when($"kind" === "resurrected", 1L).otherwise(0L))
          .cast("long").as("n_resurrected"))
    val prev = census.select(date_add($"week", 7).as("week"),
      $"n_active".as("prev_active"))
    census.join(prev, Seq("week"), "left")
      .withColumn("n_churned",
        coalesce($"prev_active", lit(0L)) - $"n_retained")
      .select(date_format($"week", "yyyy-MM-dd").as("week"),
        $"n_active", $"n_new", $"n_retained", $"n_resurrected",
        $"n_churned".cast("long").as("n_churned"))
  }
  val o142 = """
    WITH uw AS (
      SELECT DISTINCT user_id,
        CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events),
    classified AS (
      SELECT user_id, week,
        CASE WHEN lag(week) OVER w IS NULL THEN 'new'
             WHEN date_diff('day', lag(week) OVER w, week) = 7
               THEN 'retained'
             ELSE 'resurrected' END AS kind
      FROM uw
      WINDOW w AS (PARTITION BY user_id ORDER BY week ASC)),
    census AS (
      SELECT week, COUNT(*) AS n_active,
        CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_new,
        CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_retained,
        CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_resurrected
      FROM classified GROUP BY week)
    SELECT strftime(c.week, '%Y-%m-%d') AS week,
      c.n_active, c.n_new, c.n_retained, c.n_resurrected,
      CAST(COALESCE(p.n_active, 0) - c.n_retained AS BIGINT)
        AS n_churned
    FROM census c
    LEFT JOIN census p ON p.week + INTERVAL 7 DAY = CAST(c.week AS TIMESTAMP)"""

  // ------------------------------------------------ time to convert
  /** View→purchase time-to-convert distribution: for every purchase
    * preceded by a view from the same user, the whole-minute delay,
    * summarized as exact P50/P90/max — the latency curve attribution
    * windows and retargeting budgets are tuned against.
    *
    * 100 TB design: the "most recent prior view" is a running
    * last-value window over the user's ordered events (the q94 as-of
    * spelling — one keyed shuffle, no self-join); quantiles come from
    * the discrete minute census (q129's rank trick), so nothing sorts
    * event-scale data. */
  val q144TimeToConvert: Q = (s, d) => {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mins = Tables.events(s, d)
      .withColumn("last_view_us",
        max(when($"event_type" === "view", unix_micros($"ts")))
          .over(byUser))
      .filter($"event_type" === "purchase" && $"last_view_us".isNotNull)
      .withColumn("delta_us", unix_micros($"ts") - $"last_view_us")
      // integer `div`, not `/`: long / long in Spark is DOUBLE
      // division, whose rounding could flip a minute boundary vs
      // DuckDB's integer floor division
      .select(expr("delta_us div 60000000").cast("long").as("minutes"))
    val census = mins.groupBy($"minutes")
      .agg(count(lit(1)).as("freq"))
    val cum = census
      .withColumn("cum", sum($"freq").over(
        Window.orderBy($"minutes".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum($"freq").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    cum.agg(
      max($"total").cast("long").as("n_conversions"),
      min(when($"cum" >= ceil(lit(0.5) * $"total"), $"minutes"))
        .as("p50_minutes"),
      min(when($"cum" >= ceil(lit(0.9) * $"total"), $"minutes"))
        .as("p90_minutes"),
      max($"minutes").as("max_minutes"))
  }
  val o144 = """
    WITH lastv AS (
      SELECT event_type, ts,
        MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS last_view_us
      FROM events),
    mins AS (
      SELECT CAST((epoch_us(ts) - last_view_us) // 60000000 AS BIGINT)
        AS minutes
      FROM lastv
      WHERE event_type = 'purchase' AND last_view_us IS NOT NULL),
    census AS (SELECT minutes, COUNT(*) AS freq FROM mins GROUP BY 1),
    cum AS (
      SELECT minutes,
        SUM(freq) OVER (ORDER BY minutes ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(freq) OVER () AS total
      FROM census)
    SELECT CAST(MAX(total) AS BIGINT) AS n_conversions,
      MIN(CASE WHEN cum >= ceil(0.5 * total) THEN minutes END)
        AS p50_minutes,
      MIN(CASE WHEN cum >= ceil(0.9 * total) THEN minutes END)
        AS p90_minutes,
      MAX(minutes) AS max_minutes
    FROM cum"""

  // --------------------------------------------- robust MAD anomaly
  /** Robust anomaly flags: |x − rolling median| > 5·MAD over the
    * trailing 7-day window — the median/MAD twin of q40's mean/stddev
    * z-score, immune to the contamination problem (one genuine spike
    * inflates a stddev and masks the next anomaly; the median absolute
    * deviation barely moves).
    *
    * 100 TB design: same single keyed window as q95; the 7-element
    * frame materializes as an array and median + MAD are in-row
    * integer array math — no second window pass, no doubles anywhere,
    * so cross-engine parity is trivially exact. */
  val q146MadAnomaly: Q = (s, d) => {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"event_type", $"ts".cast("date").as("d"))
      .agg((sum($"value".cast("decimal(28,2)")) * 100).cast("long")
        .as("cents"))
    val w = Window.partitionBy($"event_type").orderBy($"d")
      .rowsBetween(-6, 0)
    daily
      .withColumn("arr", array_sort(collect_list($"cents").over(w)))
      .withColumn("med",
        element_at($"arr", expr("int((size(arr) + 1) div 2)")))
      .withColumn("mad", expr(
        """element_at(array_sort(transform(arr, x -> abs(x - med))),
             int((size(arr) + 1) div 2))"""))
      .select($"event_type", date_format($"d", "yyyy-MM-dd").as("d"),
        $"cents", $"med", $"mad",
        (abs($"cents" - $"med") > $"mad" * 5L).cast("long")
          .as("is_anomaly"))
  }
  val o146 = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
        CAST(SUM(CAST(value AS DECIMAL(28,2))) * 100 AS BIGINT)
          AS cents
      FROM events GROUP BY 1, 2),
    windowed AS (
      SELECT event_type, d, cents,
        list_sort(list(cents) OVER (PARTITION BY event_type
          ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
      FROM daily),
    meds AS (
      SELECT event_type, d, cents, arr,
        arr[(len(arr) + 1) // 2] AS med
      FROM windowed)
    SELECT event_type, strftime(d, '%Y-%m-%d') AS d, cents, med,
      list_sort(list_transform(arr, x -> abs(x - med)))
        [(len(arr) + 1) // 2] AS mad,
      CAST(abs(cents - med) >
        list_sort(list_transform(arr, x -> abs(x - med)))
          [(len(arr) + 1) // 2] * 5 AS BIGINT) AS is_anomaly
    FROM meds"""

  // ------------------------------------------- nearest-event join
  /** Nearest-event time join: each purchase paired with the same
    * user's CLOSEST view by absolute time distance, looking both
    * backward and forward — the sensor-fusion/attribution shape when
    * "most recent prior" (q94's as-of) is the wrong semantic because
    * the matching signal may land just after. Ties break backward
    * (the earlier view), then deterministic.
    *
    * 100 TB design: ONE keyed window pass (running last view behind,
    * running first view ahead via the reversed frame) — never a
    * self-join; the pick is in-row arithmetic on the two candidates.
    */
  val q148NearestEvent: Q = (s, d) => {
    import s.implicits._
    val back = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("view_us", when($"event_type" === "view",
        unix_micros($"ts")))
      .withColumn("prev_view_us", max($"view_us").over(back))
      .withColumn("next_view_us", min($"view_us").over(fwd))
      .filter($"event_type" === "purchase" &&
        ($"prev_view_us".isNotNull || $"next_view_us".isNotNull))
      .withColumn("p_us", unix_micros($"ts"))
      .withColumn("d_prev",
        coalesce($"p_us" - $"prev_view_us", lit(Long.MaxValue)))
      .withColumn("d_next",
        coalesce($"next_view_us" - $"p_us", lit(Long.MaxValue)))
      .select($"event_id".as("purchase_id"), $"user_id",
        when($"d_prev" <= $"d_next", lit("backward"))
          .otherwise(lit("forward")).as("direction"),
        least($"d_prev", $"d_next").as("gap_us"))
  }
  val o148 = """
    WITH marked AS (
      SELECT event_id, user_id, ts, event_type,
        CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS view_us
      FROM events),
    spans AS (
      SELECT event_id, user_id, ts, event_type,
        MAX(view_us) OVER (PARTITION BY user_id
          ORDER BY ts ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS prev_view_us,
        MIN(view_us) OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS next_view_us
      FROM marked)
    SELECT event_id AS purchase_id, user_id,
      CASE WHEN COALESCE(epoch_us(ts) - prev_view_us, 9223372036854775807)
             <= COALESCE(next_view_us - epoch_us(ts), 9223372036854775807)
           THEN 'backward' ELSE 'forward' END AS direction,
      least(
        COALESCE(epoch_us(ts) - prev_view_us, 9223372036854775807),
        COALESCE(next_view_us - epoch_us(ts), 9223372036854775807))
        AS gap_us
    FROM spans
    WHERE event_type = 'purchase'
      AND (prev_view_us IS NOT NULL OR next_view_us IS NOT NULL)"""

  // --------------------------------------- conversion attribution
  /** First-touch / last-touch revenue attribution: every purchase
    * credits its value to the user's FIRST preceding non-purchase
    * event type (the channel that acquired them) and to the LAST one
    * before the purchase (the channel that closed) — the two standard
    * single-touch attribution models, reported side by side per
    * event type. q144 measures conversion LATENCY; this allocates
    * conversion REVENUE.
    *
    * 100 TB design: ONE keyed window pass (both touches come from the
    * same user-partitioned frame ending 1 row before the purchase —
    * the sessionization shuffle), the role union is two projections
    * of the bounded purchase set, and the census is a tiny keyed agg.
    * Money through decimal(18,2); no self-join. */
  val q178Attribution: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when($"event_type" =!= "purchase", $"event_type")
    val attributed = Tables.events(s, d)
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase" && $"first_touch".isNotNull)
      .select($"first_touch", $"last_touch",
        $"value".cast("decimal(18,2)").as("v"))
    val roles = attributed
      .select($"first_touch".as("event_type"), lit("f").as("role"), $"v")
      .unionByName(attributed
        .select($"last_touch".as("event_type"), lit("l").as("role"), $"v"))
    roles.groupBy($"event_type")
      .agg(sum(when($"role" === "f", 1L).otherwise(0L)).cast("long")
          .as("n_first_touch"),
        coalesce(sum(when($"role" === "f", $"v")).cast("double"),
          lit(0.0)).as("first_touch_value"),
        sum(when($"role" === "l", 1L).otherwise(0L)).cast("long")
          .as("n_last_touch"),
        coalesce(sum(when($"role" === "l", $"v")).cast("double"),
          lit(0.0)).as("last_touch_value"))
  }
  val o178 = """
    WITH t AS (
      SELECT event_type, value,
        first_value(CASE WHEN event_type <> 'purchase'
            THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS first_touch,
        last_value(CASE WHEN event_type <> 'purchase'
            THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS last_touch
      FROM events),
    a AS (
      SELECT first_touch, last_touch, CAST(value AS DECIMAL(18,2)) AS v
      FROM t WHERE event_type = 'purchase' AND first_touch IS NOT NULL),
    roles AS (
      SELECT first_touch AS event_type, 'f' AS role, v FROM a
      UNION ALL
      SELECT last_touch, 'l', v FROM a)
    SELECT event_type,
      CAST(SUM(CASE WHEN role = 'f' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_first_touch,
      COALESCE(CAST(SUM(CASE WHEN role = 'f' THEN v END) AS DOUBLE), 0.0)
        AS first_touch_value,
      CAST(SUM(CASE WHEN role = 'l' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_last_touch,
      COALESCE(CAST(SUM(CASE WHEN role = 'l' THEN v END) AS DOUBLE), 0.0)
        AS last_touch_value
    FROM roles GROUP BY event_type"""

  val queries: Map[String, Q] = Map(
    "q178_attribution" -> q178Attribution,
    "q148_nearest_event" -> q148NearestEvent,
    "q146_mad_anomaly" -> q146MadAnomaly,
    "q144_time_to_convert" -> q144TimeToConvert,
    "q142_growth_accounting" -> q142GrowthAccounting,
    "q141_incremental_mart" -> q141IncrementalMart,
    "q138_retention_triangle" -> q138RetentionTriangle,
    "q139_backlog_sweep" -> q139BacklogSweep,
    "q137_type_cooccurrence" -> q137TypeCooccurrence,
    "q133_cube_mart" -> q133CubeMart,
    "q131_rolling_active" -> q131RollingActive,
    "q129_winsorize" -> q129Winsorize,
    "q130_session_seq" -> q130SessionSeq,
    "q160_markov_transitions" -> q160MarkovTransitions,
    "q120_feature_snapshot" -> q120FeatureSnapshot,
    "q77_json_extract" -> q77JsonExtract,
    "q78_sessionize_batch" -> q78SessionizeBatch,
    "q92_funnel" -> q92Funnel,
    "q93_cohort_retention" -> q93CohortRetention,
    "q94_asof_join" -> q94AsofJoin,
    "q95_rolling_median" -> q95RollingMedian,
    "q97_asof_native" -> q97AsofNative)

  val oracles: Map[String, String] = Map(
    "q178_attribution" -> o178,
    "q148_nearest_event" -> o148,
    "q146_mad_anomaly" -> o146,
    "q144_time_to_convert" -> o144,
    "q142_growth_accounting" -> o142,
    "q141_incremental_mart" -> o141,
    "q138_retention_triangle" -> o138,
    "q139_backlog_sweep" -> o139,
    "q137_type_cooccurrence" -> o137,
    "q133_cube_mart" -> o133,
    "q131_rolling_active" -> o131,
    "q129_winsorize" -> o129,
    "q130_session_seq" -> o130,
    "q160_markov_transitions" -> o160,
    "q120_feature_snapshot" -> o120,
    "q77_json_extract" -> o77,
    "q78_sessionize_batch" -> o78,
    "q92_funnel" -> o92,
    "q93_cohort_retention" -> o93,
    "q94_asof_join" -> o94,
    "q95_rolling_median" -> o95,
    "q97_asof_native" -> o97)
}
