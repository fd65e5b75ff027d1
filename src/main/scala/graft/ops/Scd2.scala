package graft.ops

import graft.Tables
import graft.streaming.VersionedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCD TYPE-2 DIMENSION MERGE — the write-side twin of the validity-
  * window range join (q12 reads `valid_from/valid_to` histories; this
  * operator MAINTAINS them). Given the current dimension history and a
  * fresh full snapshot, produce the new history:
  *
  *   - closed rows (valid_to set) pass through untouched,
  *   - open rows whose tracked attributes match the snapshot stay open,
  *   - open rows whose key changed or disappeared close at the
  *     effective date,
  *   - changed and brand-new keys insert a fresh open row effective
  *     that date.
  *
  * The reference's branch registry keeps exactly this validity-window
  * shape (branches.py); here it is the general engine operator.
  *
  * 100 TB design: ONE full-outer sort-merge join on the business key
  * between the OPEN slice and the snapshot — closed history never
  * joins anything (at scale the dim is stored partitioned by
  * open/closed so the closed majority is not even scanned). Attribute
  * comparison is null-safe (`<=>`), so NULL attribute values neither
  * spuriously close nor reopen rows.
  */
object Scd2 {
  type Q = (SparkSession, String) => DataFrame

  /** @param current  dimension history: key, tracked..., valid_from,
    *                 valid_to (NULL = open row)
    * @param incoming full snapshot: key, tracked...
    * @param effective ISO date the snapshot takes effect */
  def merge(current: DataFrame, incoming: DataFrame,
            key: String, tracked: Seq[String],
            effective: String): DataFrame = {
    val outCols =
      (key +: tracked) ++ Seq("valid_from", "valid_to")
    val closed = current.filter(col("valid_to").isNotNull)
      .select(outCols.map(col): _*)
    val open = current.filter(col("valid_to").isNull)
    // NULL-SAFE key equality: a NULL business key is a key value like
    // any other — a plain === would leave NULL-key rows matching
    // nothing on either side of the full-outer join, and the
    // case-filters below would then silently DROP them. Side presence
    // is tested on explicit never-NULL markers (the key itself may be
    // legitimately NULL even on a matched row).
    val j = open.withColumn("_o_present", lit(true)).as("o")
      .join(incoming.withColumn("_i_present", lit(true)).as("i"),
        col(s"o.$key") <=> col(s"i.$key"), "full_outer")
    // empty tracked list = key-presence-only SCD2 (rows never "change",
    // only appear/disappear) — fold from true, reduce would throw
    val same = tracked.map(c => col(s"o.$c") <=> col(s"i.$c"))
      .foldLeft(lit(true))(_ && _)
    val oPresent = col("o._o_present").isNotNull
    val iPresent = col("i._i_present").isNotNull
    val keepOpen = j.filter(oPresent && iPresent && same)
      .select((col(s"o.$key") +: tracked.map(c => col(s"o.$c"))) ++
        Seq(col("o.valid_from"), col("o.valid_to")): _*)
    val toClose = j.filter(oPresent && (!iPresent || !same))
      .select((col(s"o.$key") +: tracked.map(c => col(s"o.$c"))) ++
        Seq(col("o.valid_from"), lit(effective).as("valid_to")): _*)
    val toInsert = j.filter(iPresent && (!oPresent || !same))
      .select((col(s"i.$key") +: tracked.map(c => col(s"i.$c"))) ++
        Seq(lit(effective).as("valid_from"),
          lit(null).cast("string").as("valid_to")): _*)
    closed.unionByName(keepOpen.toDF(outCols: _*))
      .unionByName(toClose.toDF(outCols: _*))
      .unionByName(toInsert.toDF(outCols: _*))
  }

  /** STREAMING dimension maintenance: each micro-batch is a FULL
    * snapshot of the dimension source (CDC-style partial batches would
    * wrongly close absent keys — the caller owns that contract), and
    * `foreachBatch` folds it into the history with [[merge]], one
    * [[graft.streaming.VersionedStore]] commit per batch: recovery
    * after any crash is "read the newest committed version", and a
    * crash-replay of a batch regenerates the same version. */
  def maintainDim(snapshots: DataFrame, dimDir: String,
                  checkpointDir: String, key: String,
                  tracked: Seq[String],
                  effectiveOf: Long => String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    VersionedStore.maintain(snapshots, dimDir, checkpointDir) {
      (batch, prev, batchId) =>
        val cur = prev.getOrElse( // no history yet: empty output schema
          batch.select((col(key) +: tracked.map(col)): _*)
            .withColumn("valid_from", lit(null).cast("string"))
            .withColumn("valid_to", lit(null).cast("string"))
            .limit(0))
        merge(cur, batch, key, tracked, effectiveOf(batchId))
    }

  /** The dimension as of its latest committed version (the read side
    * of [[maintainDim]]). */
  def readDim(spark: SparkSession, dimDir: String): DataFrame =
    VersionedStore.latest(spark, dimDir).getOrElse(
      sys.error(s"no committed dimension under $dimDir"))

  // ----------------------------------------------------- oracle query
  /** q110: the merge over a deterministically synthesized history of
    * the `customer` dimension tracking `c_mktsegment`:
    *   - keys % 7 == 0 carry a CLOSED 'ANCIENT' row (pass-through),
    *   - keys % 4 != 0 have an open row — STALE segment when
    *     % 5 == 0 (→ close + reinsert), else current (→ stays open),
    *   - keys % 4 == 0 are absent (→ fresh insert).
    * Validity bounds are ISO strings on both engines. */
  private val Eff = "2024-06-01"

  val q110Scd2Merge: Q = (s, d) => {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    val openCur = base.filter(col("c_custkey") % 4 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 5 === 0, lit("STALE"))
          .otherwise(col("c_mktsegment")).as("segment"),
        lit("2023-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"))
    val closedCur = base.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit("ANCIENT").as("segment"),
        lit("2020-01-01").as("valid_from"),
        lit("2023-01-01").as("valid_to"))
    val current = closedCur.unionByName(openCur)
    val incoming = base.select(col("c_custkey"),
      col("c_mktsegment").as("segment"))
    merge(current, incoming, "c_custkey", Seq("segment"), Eff)
  }
  val o110: String = s"""
    WITH base AS (SELECT c_custkey, c_mktsegment FROM customer),
    open_cur AS (
      SELECT c_custkey,
        CASE WHEN c_custkey % 5 = 0 THEN 'STALE'
             ELSE c_mktsegment END AS segment,
        '2023-01-01' AS valid_from,
        CAST(NULL AS VARCHAR) AS valid_to
      FROM base WHERE c_custkey % 4 <> 0),
    closed_cur AS (
      SELECT c_custkey, 'ANCIENT' AS segment,
        '2020-01-01' AS valid_from, '2023-01-01' AS valid_to
      FROM base WHERE c_custkey % 7 = 0),
    incoming AS (SELECT c_custkey, c_mktsegment AS segment FROM base),
    j AS (
      SELECT o.c_custkey AS ok, o.segment AS oseg,
             o.valid_from AS ovf,
             i.c_custkey AS ik, i.segment AS iseg,
             (o.segment IS NOT DISTINCT FROM i.segment) AS same
      FROM open_cur o FULL OUTER JOIN incoming i
        ON o.c_custkey = i.c_custkey)
    SELECT c_custkey, segment, valid_from, valid_to FROM closed_cur
    UNION ALL
    SELECT ok, oseg, ovf, CAST(NULL AS VARCHAR)
    FROM j WHERE ok IS NOT NULL AND ik IS NOT NULL AND same
    UNION ALL
    SELECT ok, oseg, ovf, '$Eff'
    FROM j WHERE ok IS NOT NULL AND (ik IS NULL OR NOT same)
    UNION ALL
    SELECT ik, iseg, '$Eff', CAST(NULL AS VARCHAR)
    FROM j WHERE ik IS NOT NULL AND (ok IS NULL OR NOT same)"""

  val queries: Map[String, Q] = Map("q110_scd2_merge" -> q110Scd2Merge)
  val oracles: Map[String, String] = Map("q110_scd2_merge" -> o110)
}
