package graft.streaming

import graft.ops.VectorOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._

/** Streaming faces of the corpus-curation tier: the intake path of an
  * LLM data pipeline, where documents arrive continuously and exact
  * dedup must happen before anything expensive (shingling, embedding)
  * runs on a duplicate.
  *
  * All dedup state is keyed on the 8-byte content fingerprint
  * (`TextOps.fingerprintCol`, the same key the batch tier uses in
  * q53/q55/q87) — the state store holds fingerprints, never document
  * bodies, so state size is rows × ~16 bytes regardless of document
  * length. That key discipline is what lets the same pipeline run at
  * 100 TB/day intake: the dedup shuffle and the state store both move
  * 8-byte keys.
  */
object CorpusStreaming {

  /** A document on the intake stream: event time + the batch schema. */
  final case class DocEvent(doc_id: Long, ts: java.sql.Timestamp,
                            text: String, source: String)

  /** Adds the content fingerprint column `fp` (identical to the batch
    * q53 key, so batch snapshots and stream state interoperate). */
  def withFingerprint(docs: DataFrame): DataFrame =
    docs.withColumn("fp", graft.ops.TextOps.fingerprintCol)

  /** STREAMING exact dedup: drop any document whose fingerprint was
    * already seen within the watermark horizon —
    * `dropDuplicatesWithinWatermark`, the engine-managed spelling: the
    * state store keeps one entry per fingerprint and EXPIRES it once
    * the watermark passes, so state is bounded by the dedup horizon
    * instead of growing with the corpus forever (plain
    * `dropDuplicates` on a stream never forgets — unusable at 100 TB).
    * Duplicates BEYOND the horizon are the batch tier's job (q87
    * against the corpus snapshot). */
  def dedupStream(docs: Dataset[DocEvent],
                  watermark: String = "1 hour"): DataFrame =
    withFingerprint(docs.toDF())
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming twin of q87 incremental dedup: the intake stream
    * LEFT-ANTI joined on fingerprint against the corpus snapshot's
    * fingerprint set — only genuinely novel documents pass. The
    * snapshot side is a static table: Spark re-plans it per
    * micro-batch, and because only the 8-byte `fp` column is read it
    * broadcasts (or bucket-joins at snapshot scale) without ever
    * shipping text. Compose after [[dedupStream]] so within-horizon
    * dups never even reach the snapshot join. */
  def dedupAgainstSnapshot(docs: DataFrame,
                           snapshotFps: DataFrame): DataFrame =
    docs.join(snapshotFps.select(col("fp")).distinct(), Seq("fp"),
      "left_anti")

  /** EXACTLY-ONCE file sink for the deduped intake: `foreachBatch`
    * writing each micro-batch to its own `batch_id=N` directory with
    * overwrite — after a crash, Structured Streaming REPLAYS the last
    * uncommitted batch with the SAME id, so the rewrite lands on the
    * same directory instead of duplicating rows. Idempotence by
    * batch-id is the standard exactly-once contract for file/object
    * stores (transactional sinks get it from the sink; plain parquet
    * gets it from this layout). Downstream reads `outDir` recursively;
    * at corpus scale the same writer also partitions by source/date
    * inside each batch directory. */
  def toIdempotentParquet(deduped: DataFrame, outDir: String,
                          checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, outDir, batchId)
      }
      .start()

  /** The per-batch write — separated so replay semantics are testable
    * (writing the same batchId twice must not duplicate rows). */
  private[streaming] def writeBatch(batch: DataFrame, outDir: String,
                                    batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** Quality-gated stream ROUTING: every micro-batch splits into an
    * accept path and a quarantine path (q51's quality signal at the
    * same threshold as the batch curation gate q82), each written to
    * its own idempotent batch-id directory — the streaming curation
    * gate that keeps rejected documents INSPECTABLE instead of
    * silently dropped (reviewers mine the quarantine for
    * false-positive filter kills before tightening a threshold).
    *
    * 100 TB design: one foreachBatch evaluates the in-row quality
    * expression once per document; the split is two filters over the
    * SAME cached batch (no second scan of the source), and both sinks
    * inherit replay idempotence from the batch-id layout. */
  def routeByQuality(docs: DataFrame, acceptDir: String,
                     quarantineDir: String, checkpointDir: String,
                     minQuality: Double = 0.4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scored = batch
          .withColumn("quality", graft.ops.TextOps.qualityCol)
          .persist()
        try {
          writeBatch(scored.filter(col("quality") >= minQuality),
            acceptDir, batchId)
          writeBatch(scored.filter(col("quality") < minQuality),
            quarantineDir, batchId)
        } finally scored.unpersist()
      }
      .start()

  /** Streaming DSIR admission gate — the "train offline, serve
    * online" face of q241: the batch tier trains the 256-bucket
    * importance-weight table (`CorpusOps.dsirBucketWeights`, the
    * persisted model artifact), and this gate scores every intake
    * document IN-ROW against it — token → feature bucket (the shared
    * `tokenBucket` fold) → weight lookup in a 256-long literal array
    * → summed exact int64 "target-likeness bits", admit when ≥ 0
    * (q241's selection rule). The weights collapse to a driver-side
    * literal at WIRING time (256 longs — the legitimate tiny-model
    * collect, like the batch tier's header pre-passes), so scoring is
    * a stateless per-row projection: no stream-static join, no state
    * store, intake-rate throughput at any scale. StreamingSpec pins
    * stream scores ≡ the batch q241 census over the same corpus.
    *
    * Buckets unseen in training score 0 by an explicit ABSTENTION
    * convention (not because the smoothed formula yields 0 — it
    * would give ilog(t_raw)−ilog(t_tgt) > 0, i.e. spurious
    * target-likeness for tokens the trainer never saw, since the raw
    * corpus mass always exceeds the target slice's). The batch q241
    * parity pin is unaffected: batch only ever scores tokens whose
    * buckets were counted, so the fallback is batch-unreachable. */
  def dsirGateStream(docs: DataFrame,
                     bucketWeights: DataFrame): DataFrame = {
    val trained = bucketWeights.collect()
      .map(r => r.getLong(r.fieldIndex("bucket")) ->
        r.getLong(r.fieldIndex("w_bits"))).toMap
    val warr = (0L until 256L).map(b => trained.getOrElse(b, 0L))
    val arrLit = warr.mkString("array(", "L, ", "L)")
    docs
      .withColumn("doc_bits", expr(
        s"""aggregate(filter(split(text, ' '), t -> length(t) > 0),
             CAST(0 AS BIGINT),
             (a, t) -> a + element_at($arrLit,
               CAST(${graft.ops.CorpusOps.tokenBucket("t")} AS INT)
                 + 1))"""))
      .withColumn("admit", col("doc_bits") >= 0)
  }

  /** Streaming NB admission gate — the "train offline, serve online"
    * face of the q264 quality classifier, completing the gate-stream
    * family ([[dsirGateStream]] = q241's, [[deconGateStream]] =
    * q267's): the batch tier trains the HASHED-VOCAB model
    * (`CorpusOps.nbHashedWeights` — 256 bucket log-odds weights + the
    * class prior at bucket −1, a constant-size artifact by
    * construction), and this gate scores every intake document IN-ROW
    * against it: token → feature bucket (the shared `tokenBucket`
    * fold) → weight lookup in a 256-long literal array → prior-seeded
    * exact int64 log-odds sum, admit when ≥ 0 (q264's verdict rule).
    * The hashing trick is WHY this can be a stateless projection — a
    * word-vocabulary model would need a stream-static join (stateful
    * per-batch shuffle) just to look weights up; hashed buckets make
    * the whole model a wiring-time literal, intake-rate throughput at
    * any scale. The trained table is DENSE over the 0..255 domain
    * (`nbHashedWeights` left-joins the census onto `range(256)`), so
    * every bucket — seen in train or not — carries its smoothed NB
    * weight and the `getOrElse(0)` below is an unreachable
    * defensive default, not a semantic choice (round-9 ADVICE: with
    * a sparse table the gate diverged from the NB formula on any
    * corpus leaving a bucket unseen). StreamingSpec pins stream
    * scores ≡ an independent plain-Scala hashed-NB over the same
    * corpus, doc by doc. */
  def nbGateStream(docs: DataFrame, model: DataFrame): DataFrame = {
    val rows = model.collect()
      .map(r => r.getLong(r.fieldIndex("bucket")) ->
        r.getLong(r.fieldIndex("w_bits"))).toMap
    val prior = rows.getOrElse(-1L, 0L)
    val warr = (0L until 256L).map(b => rows.getOrElse(b, 0L))
    val arrLit = warr.mkString("array(", "L, ", "L)")
    docs
      .withColumn("nb_bits", expr(
        s"""aggregate(filter(split(text, ' '), t -> length(t) > 0),
             CAST($prior AS BIGINT),
             (a, t) -> a + element_at($arrLit,
               CAST(${graft.ops.CorpusOps.tokenBucket("t")} AS INT)
                 + 1))"""))
      .withColumn("admit", col("nb_bits") >= 0)
  }

  /** A vector on the intake stream (the embedding-tier DocEvent). */
  final case class VecEvent(vec_id: Long, ts: java.sql.Timestamp,
                            label: Int, embedding: Seq[Float])

  /** One eval-benchmark vector as carried in the gate's literal. */
  final case class EvalVec(e_norm: Double, e_emb: Seq[Float])

  /** Streaming semantic-decontamination gate — the "train offline,
    * serve online" face of q267, as [[dsirGateStream]] is of q241:
    * the eval benchmark (a CONSTANT-size vector set, the q62 rule)
    * collapses to a driver-side literal at WIRING time — ≤ ~100
    * (norm, vector) structs, the legitimate tiny-model collect — and
    * every intake vector is scored IN-ROW with the same
    * max-cosine fold the batch screen runs: no stream-static join,
    * no state store, intake-rate throughput at any scale. Emits
    * `max_cos` plus a `contaminated` verdict at `tau`, so the router
    * can quarantine eval-tainted intake BEFORE it reaches a training
    * shard (the batch q267 census is then the audit over what got
    * through).
    *
    * Eval norms are computed driver-side with the exact [[q267]]
    * op sequence (left fold of double-widened squares, then sqrt),
    * so stream scores are bit-identical to the batch screen —
    * StreamingSpec pins the per-label census equality. */
  def deconGateStream(vecs: DataFrame, evalSet: DataFrame,
                      tau: Double): DataFrame = {
    val evs = evalSet.select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val emb = r.getSeq[Float](1)
        val norm = math.sqrt(emb.foldLeft(0.0)((a, x) =>
          a + x.toDouble * x.toDouble))
        EvalVec(norm, emb)
      }.toSeq
    vecs
      .withColumn("norm",
        sqrt(expr("dot_f32_native(embedding, embedding)")))
      .withColumn("evs", typedLit(evs))
      .withColumn("max_cos", expr(
        """array_max(transform(evs, ev ->
             dot_f32_native(embedding, ev.e_emb)
               / (norm * ev.e_norm)))"""))
      .drop("evs")
      .withColumn("contaminated", col("max_cos") >= tau)
  }

  /** INCREMENTAL maintenance of the q177 replica checksums: every
    * micro-batch folds its per-source delta census into the persisted
    * checksum table with pure column algebra — count adds, the
    * fingerprint XOR xors (XOR is its own inverse-free merge), and
    * the mod-1e9+7 sum adds modularly. All three lanes are group
    * homomorphisms, so incrementally-maintained state coincides
    * exactly with a from-scratch recompute over everything ingested —
    * the contract StreamingSpec pins (two batches ≡ one batch).
    *
    * Each micro-batch is one [[VersionedStore]] commit (idempotent
    * replay, only `_SUCCESS`-committed versions served). The table is
    * partition-grain (one row per source), so at 100 TB/day intake
    * the maintained state is bytes while the audit it powers (q177
    * against a mirror) would otherwise rescan the corpus. */
  def maintainChecksums(docs: DataFrame, tableDir: String,
                        checkpointDir: String): StreamingQuery =
    VersionedStore.maintain(docs, tableDir, checkpointDir)(
      (batch, prev, _) => foldChecksums(batch, prev))

  /** One merge commit — separated so the incremental ≡ recompute
    * contract is testable without a streaming harness. */
  private[streaming] def mergeChecksums(batch: DataFrame,
                                        tableDir: String,
                                        batchId: Long): Unit =
    VersionedStore.commit(batch, tableDir, batchId)(
      foldChecksums(batch, _))

  private def foldChecksums(batch: DataFrame,
                            prev: Option[DataFrame]): DataFrame = {
    val delta = checksumCensus(batch)
    prev.fold(delta)(_.unionByName(delta)
      .groupBy(col("source"))
      .agg(sum(col("n_rows")).cast("long").as("n_rows"),
        expr("bit_xor(xor_fp)").as("xor_fp"),
        pmod(sum(col("sum_fp")), lit(1000000007L)).cast("long")
          .as("sum_fp")))
  }

  /** The per-source checksum census (q177's three lanes, with the
    * modular sum kept canonical so merges stay in-range forever). */
  private[streaming] def checksumCensus(docs: DataFrame): DataFrame =
    withFingerprint(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(fp)").as("xor_fp"),
        pmod(sum(pmod(col("fp"), lit(1000000007L))), lit(1000000007L))
          .cast("long").as("sum_fp"))

  /** The checksum table as of its latest committed version. */
  def currentChecksums(spark: SparkSession,
                       tableDir: String): Option[DataFrame] =
    VersionedStore.latest(spark, tableDir)

  // ------------------------------------------- streaming reservoir
  /** Streaming weighted reservoir — the online face of batch q187's
    * A-ES sample: each arriving doc gets the SAME deterministic
    * integer priority (`InsightOps.aesPrioritySql` — seeded two-round
    * hash ·1e6 div n_chars), and the maintained table is the k rows
    * with smallest priority seen so far. k-bounded top-k is a merge
    * homomorphism (topk(A ∪ B) = topk(topk(A) ∪ topk(B))), so the
    * incrementally-maintained sample coincides EXACTLY with batch
    * q187 over everything ingested — StreamingSpec pins stream ≡
    * batch on the full corpus, split across batches. One
    * [[VersionedStore]] commit per micro-batch.
    *
    * 100 TB design: per-batch work is one k-bounded TakeOrdered
    * (partial heaps, no sort); maintained state is k rows regardless
    * of intake volume — the "always-fresh eval sample" a continuously
    * ingesting pipeline reads without ever rescanning the corpus. */
  def maintainReservoir(docs: DataFrame, tableDir: String,
                        checkpointDir: String,
                        k: Int = 100): StreamingQuery =
    VersionedStore.maintain(docs, tableDir, checkpointDir)(
      (batch, prev, _) => foldReservoir(batch, prev, k))

  /** One reservoir merge commit — separated so the incremental ≡
    * batch-q187 contract is testable without a streaming harness. */
  private[streaming] def mergeReservoir(batch: DataFrame,
                                        tableDir: String,
                                        batchId: Long, k: Int): Unit =
    VersionedStore.commit(batch, tableDir, batchId)(
      foldReservoir(batch, _, k))

  private def foldReservoir(batch: DataFrame, prev: Option[DataFrame],
                            k: Int): DataFrame = {
    val delta = reservoirCensus(batch, k)
    prev.fold(delta)(p => reservoirTopK(p.unionByName(delta), k))
  }

  /** Batch-q187 spelling over one intake batch (doc_id + n_chars). */
  private[streaming] def reservoirCensus(docs: DataFrame,
                                         k: Int): DataFrame =
    reservoirTopK(docs
      .withColumn("priority",
        expr(graft.ops.InsightOps.aesPrioritySql))
      .select(col("doc_id"), col("n_chars").as("weight"),
        col("priority")), k)

  /** k smallest priorities, doc_id-DEDUPED first: an at-least-once
    * source re-delivering a sampled doc in a LATER batch would
    * otherwise occupy two reservoir slots. The election is
    * DETERMINISTIC — min (priority, weight) per doc_id — because the
    * priority divides by n_chars, so a redelivery that arrives with a
    * changed n_chars (a re-crawl, a cleaner upgrade) must elect the
    * same row on every replay or the maintained sample diverges from
    * batch q187. Byte-identical redelivery reduces to the plain dedup
    * discipline BandBucketProcessor applies in-bucket. */
  private def reservoirTopK(rows: DataFrame, k: Int): DataFrame =
    rows.groupBy(col("doc_id"))
      .agg(min(struct(col("priority"), col("weight"))).as("elect"))
      .select(col("doc_id"), col("elect.weight").as("weight"),
        col("elect.priority").as("priority"))
      .orderBy(col("priority").asc, col("doc_id").asc).limit(k)

  /** The reservoir as of its latest committed version. */
  def currentReservoir(spark: SparkSession,
                       tableDir: String): Option[DataFrame] =
    VersionedStore.latest(spark, tableDir)

  // ------------------------- incremental IVF centroid maintenance
  /** Online twin of batch q102's Lloyd update through the versioned-
    * commit store: arriving vectors assign to their nearest SEED
    * centroid (the offline-trained coarse quantizer — artifact-reuse
    * deployment, same shape as q257's static gates) and the store
    * accumulates per-cell SUFFICIENT STATISTICS — member count,
    * inertia, and the per-dimension coordinate sum. Counts and exact
    * decimal sums are a merge homomorphism, so the maintained table
    * after any batch split is IDENTICAL to the batch recompute —
    * [[currentCentroids]] reproduces q102's (cell, n_vecs, inertia,
    * movement) bit-for-bit (StreamingSpec pins it), and the updated
    * centroid itself (sums/n) is the Lloyd re-center a nightly
    * re-index reads without rescanning the corpus.
    *
    * Replay discipline: within a batch, a redelivered vec_id elects
    * deterministically (min embedding — the reservoir's election
    * rule); a replayed batch id overwrites its own version against
    * the predecessor (idempotent). Cross-batch redelivery is the
    * upstream fingerprint-dedup stage's contract, as for every
    * consumer downstream of intake dedup ([[routeByQuality]]).
    *
    * 100 TB/day design: state is k rows of (long, decimal, 64
    * decimals) — bytes per cell, constant in intake volume; the
    * assignment is the broadcast-join in-row argmin (payload vectors
    * never shuffle; the only exchange is the k×64-group stats
    * aggregate). */
  def maintainCentroids(vecs: DataFrame, tableDir: String,
                        checkpointDir: String,
                        seed: DataFrame): StreamingQuery =
    VersionedStore.maintain(vecs, tableDir, checkpointDir)(
      (batch, prev, _) => foldCentroids(batch, prev, seed))

  /** One stats merge commit — separated so stream ≡ batch-q102 is
    * testable without a streaming harness. `seed` is (c_label, carr)
    * — [[graft.ops.VectorOps.labelCentroids]]' shape. */
  private[streaming] def mergeCentroids(batch: DataFrame,
                                        tableDir: String,
                                        batchId: Long,
                                        seed: DataFrame): Unit =
    VersionedStore.commit(batch, tableDir, batchId)(
      foldCentroids(batch, _, seed))

  private def foldCentroids(batch: DataFrame, prev: Option[DataFrame],
                            seed: DataFrame): DataFrame = {
    val delta = centroidStats(batch, seed)
    prev.fold(delta)(p => mergeStats(p.unionByName(delta)))
  }

  /** Per-cell sufficient statistics of one vector batch under the
    * seed assignment: (cell, n, inertia, sums). The argmin expression
    * and every decimal route mirror q102 exactly — that is what makes
    * the merged table reproduce the batch recompute bit-for-bit. */
  private[streaming] def centroidStats(vecs: DataFrame,
                                       seed: DataFrame): DataFrame = {
    val packed = VectorOps.packCentroids(seed)
    val assigned = vecs
      .groupBy(col("vec_id"))
      .agg(min(col("embedding")).as("embedding")) // deterministic
      .join(broadcast(packed))
      .withColumn("a", expr(VectorOps.nearestCentroid))
      .select(col("embedding"), col("a.c_label").as("cell"),
        col("a.d2").as("d2"))
      .localCheckpoint() // feeds the cell census AND the dim sums
    val cells = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(col("d2").cast("decimal(30,8)")).cast("decimal(38,8)")
          .as("inertia"))
    val sums = assigned
      .select(col("cell"), posexplode(col("embedding"))
        .as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("v").cast("decimal(30,8)")).cast("decimal(38,8)")
        .as("s"))
    cells.join(packSums(sums), Seq("cell"))
  }

  /** (cell, pos, s) → (cell, sums) with `sums` in pos order. */
  private def packSums(cellPosSums: DataFrame): DataFrame =
    cellPosSums.groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("s"))))
        .as("ps"))
      .select(col("cell"), expr("transform(ps, x -> x.s)").as("sums"))

  /** Re-collapse a union of stats tables to one row per cell (counts
    * add; inertia adds; sums add element-wise — all exact). */
  private def mergeStats(stats: DataFrame): DataFrame = {
    val cells = stats.groupBy(col("cell"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("inertia")).cast("decimal(38,8)").as("inertia"))
    val sums = stats
      .select(col("cell"), posexplode(col("sums")).as(Seq("pos", "s")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("s")).cast("decimal(38,8)").as("s"))
    cells.join(packSums(sums), Seq("cell"))
  }

  /** The maintained table rendered as q102's report — (cell, n_vecs,
    * inertia, movement) plus the re-centered `centroid` a re-index
    * consumes. `seed` must be the same frame the maintenance ran
    * against. */
  def currentCentroids(spark: SparkSession, tableDir: String,
                       seed: DataFrame): Option[DataFrame] =
    VersionedStore.latest(spark, tableDir).map(
      _.withColumn("centroid", expr(
          "transform(sums, x -> CAST(x AS DOUBLE) / n)"))
        .join(seed.select(col("c_label").as("cell"), col("carr")),
          Seq("cell"))
        .select(col("cell"), col("n").as("n_vecs"),
          col("inertia").cast("double").as("inertia"),
          sqrt(expr("l2sq_native(carr, centroid)")).as("movement"),
          col("centroid")))

  /** Per-source intake census over the deduped stream: docs admitted
    * per (window, source) — the monitoring mart an intake pipeline
    * alerts on when a source's novel-document rate collapses (all
    * dups = a stuck crawler re-sending yesterday's shard). */
  def intakeCensus(deduped: DataFrame,
                   windowLen: String = "1 hour"): DataFrame =
    deduped
      .groupBy(window(col("ts"), windowLen), col("source"))
      .agg(count(lit(1)).as("n_new_docs"),
        sum(length(col("text"))).as("n_chars"))
      .select(col("window.start").as("window_start"),
        col("source"), col("n_new_docs"), col("n_chars"))

  // ------------------------------------------------ per-source quota
  /** Admission verdict for one intake document under the running
    * per-source cap: `n_admitted` is the source's total AFTER this
    * document (unchanged when rejected). */
  final case class QuotaVerdict(doc_id: Long, source: String,
                                admitted: Boolean, n_admitted: Long)

  /** Streaming twin of batch q190's per-source quota: admit at most
    * `cap` documents per source ACROSS the stream's lifetime, with one
    * `ValueState[Long]` counter per source — constant state per key
    * regardless of intake volume (the counter, never the documents).
    * Within a micro-batch, rows fold in (ts, doc_id) order so replays
    * and engine parallelism cannot reorder admission — the same
    * determinism discipline as FeatureProcessor. Rejected documents
    * are EMITTED with `admitted = false` rather than dropped, so the
    * overflow is routable to a quarantine sink for later rebalancing
    * (the same inspectability contract as [[routeByQuality]]).
    *
    * No timers: quota state never expires by time (a lifetime cap).
    * A per-epoch quota would wrap this in a MapState keyed by epoch
    * with an event-time GC timer — see BurstProcessor's scaladoc for
    * the timer-mode caveats. */
  final class QuotaProcessor(cap: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, DocEvent, QuotaVerdict] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
      TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var admitted: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      admitted = getHandle.getValueState("admitted", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[DocEvent],
                                 tv: TimerValues): Iterator[QuotaVerdict] = {
      var c = if (admitted.exists) admitted.get else 0L
      val out = rows.toSeq
        .sortBy(e => (e.ts.getTime, e.doc_id))
        .map { e =>
          val admit = c < cap
          if (admit) c += 1
          QuotaVerdict(e.doc_id, key, admit, c)
        }
      admitted.update(c)
      out.iterator
    }
  }

  /** [[QuotaProcessor]] wired to the intake stream, keyed by source. */
  def quotaBySource(docs: Dataset[DocEvent], cap: Long)
      : Dataset[QuotaVerdict] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    docs
      .groupByKey(_.source)
      .transformWithState(new QuotaProcessor(cap),
        TimeMode.None(), OutputMode.Append())
  }

  final case class PackedDoc(doc_id: Long, source: String,
                             n_tokens: Long, off: Long,
                             window_lo: Long, window_hi: Long,
                             span: Long)

  /** Context-window size of the streaming packer — the batch q233/
    * q234 constant. */
  val PackWindowTokens = 64L

  /** Streaming sequence packer: per SOURCE, documents concatenate in
    * arrival order into fixed [[PackWindowTokens]]-token context
    * windows, and each document is emitted with its token offset IN
    * THAT SOURCE'S STREAM, the window ids it touches, and its span
    * (1 = fits one window; >1 = straddles — the
    * attention-contamination flag). One `ValueState[Long]` per source
    * holds the running offset — constant state per key however long
    * the stream runs (the offset, never the text).
    *
    * Relation to batch q233/q234 — PER-SOURCE, not global: the batch
    * audits pack ONE corpus-wide concat stream in doc_id order, while
    * a stream has no global order to honor, so each source is its own
    * concat stream here (the natural online layout: sources are
    * independent producers). Offsets/window ids are therefore NOT
    * joinable against the batch audits' global layout on a
    * multi-source corpus; what IS pinned (StreamingSpec) is that each
    * source's offsets equal the batch prefix sum over that source's
    * documents in the same order, with the same
    * `split(" ", -1).length` token counting as Spark's
    * `size(split(text, ' '))`. Within a micro-batch rows fold in
    * (ts, doc_id) order (the QuotaProcessor determinism discipline).
    *
    * No timers: the offset never expires (a lifetime concat position,
    * like QuotaProcessor's lifetime counter). */
  final class PackerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, DocEvent, PackedDoc] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
      TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var off: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      off = getHandle.getValueState("off", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[DocEvent],
                                 tv: TimerValues): Iterator[PackedDoc] = {
      val w = PackWindowTokens
      var o = if (off.exists) off.get else 0L
      val out = rows.toSeq
        .sortBy(e => (e.ts.getTime, e.doc_id))
        .map { e =>
          val n = e.text.split(" ", -1).length.toLong
          val lo = o / w
          val hi = (o + n - 1) / w
          val packed = PackedDoc(e.doc_id, key, n, o, lo, hi,
            hi - lo + 1)
          o += n
          packed
        }
      off.update(o)
      out.iterator
    }
  }

  /** [[PackerProcessor]] wired to the intake stream, keyed by
    * source. */
  def packBySource(docs: Dataset[DocEvent]): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    docs
      .groupByKey(_.source)
      .transformWithState(new PackerProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One LSH band-bucket membership row: `bkey` = "band|h1|h2" from
    * the doc's MinHash signature (band 0 = lanes 0,1; band 1 =
    * lanes 2,3 — exactly q57's banding). */
  final case class BandEntry(bkey: String, doc_id: Long, tsMillis: Long)

  /** A streaming near-dup candidate: two docs that agreed on one
    * whole signature band. `saturated = true` rows are NOT pairs —
    * they mark an arrival REFUSED by a full bucket (doc_b = -1), the
    * stream's spelling of the batch overflow census. */
  final case class LshCandidate(band: Int, h1: Long, h2: Long,
                                doc_a: Long, doc_b: Long,
                                saturated: Boolean)

  /** STREAMING LSH candidate generation — the online twin of q57's
    * band buckets with the banded generators' bucket cap: per
    * band-bucket, membership lives in a ListState bounded by `cap`;
    * an arriving doc emits one candidate pair against each stored
    * member, then joins the bucket. Output per bucket is therefore
    * ≤ C(cap, 2) pairs FOREVER, whatever a degenerate boilerplate
    * bucket sees — the same bound the batch side enforces by
    * dropping over-cap buckets. (Batch drops retroactively; a stream
    * cannot un-emit, so it stops ADMITTING instead and emits a
    * `saturated` marker per refused arrival — routable to the same
    * quarantine/monitoring sink as [[QuotaProcessor]] overflow.)
    *
    * A pair agreeing on BOTH bands emits under each (q57 counts per
    * band the same way); the downstream verifier dedups when it
    * Jaccard/Hamming-checks candidates — exactly the batch contract.
    * Replayed doc_ids (at-least-once sources) are membership-deduped
    * in-bucket, so replays emit no duplicate PAIRS. Saturated markers
    * are per-refused-ARRIVAL telemetry: a replay of a refused doc
    * emits another marker (refused ids are deliberately not stored —
    * that set is unbounded, the very thing the cap exists to avoid);
    * consumers counting unique refused docs dedup on doc_id. */
  final class BandBucketProcessor(cap: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, BandEntry, LshCandidate] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode,
      TTLConfig, TimeMode, TimerValues}
    import org.apache.spark.sql.Encoders

    @transient private var members: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState("members", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[BandEntry],
                                 tv: TimerValues)
        : Iterator[LshCandidate] = {
      val parts = key.split('|')
      val (band, h1, h2) =
        (parts(0).toInt, parts(1).toLong, parts(2).toLong)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      members.get().foreach(buf += _)
      val out =
        scala.collection.mutable.ListBuffer.empty[LshCandidate]
      var grew = false
      rows.toSeq.sortBy(e => (e.tsMillis, e.doc_id)).foreach { e =>
        if (!buf.contains(e.doc_id)) {
          if (buf.length < cap) {
            buf.foreach { m =>
              out += LshCandidate(band, h1, h2, math.min(m, e.doc_id),
                math.max(m, e.doc_id), saturated = false)
            }
            buf += e.doc_id
            grew = true
          } else {
            out += LshCandidate(band, h1, h2, e.doc_id, -1L,
              saturated = true)
          }
        }
      }
      if (grew) { members.clear(); members.put(buf.toArray) }
      out.iterator
    }
  }

  /** [[BandBucketProcessor]] wired to the intake stream: signature =
    * the SAME `minhash4_native` kernel as batch q56 (so batch indexes
    * and stream candidates interoperate), banded exactly like q57.
    * Docs with no shingles (null signature lanes) carry no LSH signal
    * and are filtered before keying. */
  def lshCandidatesStream(docs: Dataset[DocEvent],
                          cap: Int = graft.ops.DedupOps.MaxBandBucket)
      : Dataset[LshCandidate] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // same native kernel as minhashFrom, inlined to carry `ts` through
    val sig = graft.ops.DedupOps.withShingles(
        docs.toDF().select(col("doc_id"), col("ts"), col("text")))
      .withColumn("mh", call_function("minhash4_native", col("shs")))
      .select(col("doc_id"), col("ts"),
        col("mh").getItem(0).as("mh0"), col("mh").getItem(1).as("mh1"),
        col("mh").getItem(2).as("mh2"), col("mh").getItem(3).as("mh3"))
      .filter(col("mh0").isNotNull)
    sig
      .select(expr("""explode(array(
          named_struct('band', 0, 'h1', mh0, 'h2', mh1),
          named_struct('band', 1, 'h1', mh2, 'h2', mh3))) AS b"""),
        col("doc_id"), unix_millis(col("ts")).as("tsMillis"))
      .select(concat_ws("|", col("b.band"), col("b.h1"), col("b.h2"))
        .as("bkey"), col("doc_id"), col("tsMillis"))
      .as[BandEntry]
      .groupByKey(_.bkey)
      .transformWithState(new BandBucketProcessor(cap),
        TimeMode.None(), OutputMode.Append())
  }

  /** STREAMING perceptual-hash candidates — the media lane's online
    * near-dup path, batch q254's twin: each arriving payload collapses
    * IN-ROW to its four 16-bit dHash lanes (the shared
    * `MultiModal.phashLaneExpr` spelling, so the batch index and the
    * stream candidates interoperate), and each lane keys the SAME
    * capped [[BandBucketProcessor]] the text LSH path uses (the pHash
    * band key is a single lane value; the processor's h2 slot rides
    * as 0). Candidate pairs verify downstream by exact bit_count XOR
    * Hamming — q254's verify stage over the hash store; payloads
    * never enter state, buckets hold doc ids only, so the 100 TB/day
    * media-intake story is the text path's unchanged. */
  def phashCandidatesStream(docs: Dataset[DocEvent],
                            cap: Int = graft.ops.DedupOps.MaxBandBucket)
      : Dataset[LshCandidate] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    def lane(b: Int) = graft.ops.MultiModal.phashLaneExpr(b)
    docs.toDF()
      .select(col("doc_id"), col("ts"), col("text"))
      // q254's ASCII projection — the stream hashes MUST equal the
      // batch hashes byte-for-byte or the candidate keys can't join
      .withColumn("text",
        regexp_replace(col("text"), "[^\\x00-\\x7F]", ""))
      .filter(length(col("text")) >= 2)
      .withColumn("L", length(col("text")).cast("long"))
      .select(col("doc_id"), unix_millis(col("ts")).as("tsMillis"),
        expr(s"""explode(array(
            named_struct('band', 0, 'key', ${lane(0)}),
            named_struct('band', 1, 'key', ${lane(1)}),
            named_struct('band', 2, 'key', ${lane(2)}),
            named_struct('band', 3, 'key', ${lane(3)}))) AS b"""))
      .select(concat_ws("|", col("b.band"), col("b.key"), lit(0L))
        .as("bkey"), col("doc_id"), col("tsMillis"))
      .as[BandEntry]
      .groupByKey(_.bkey)
      .transformWithState(new BandBucketProcessor(cap),
        TimeMode.None(), OutputMode.Append())
  }

  // ------------------------------------- streaming split-leakage watch
  /** Streaming twin of batch q238's split-leakage census, at CANDIDATE
    * grain: every non-saturated LSH candidate pair from
    * [[lshCandidatesStream]] is tagged with q105's deterministic
    * train/val/test assignment (`CorpusOps.splitAssign` — the SAME
    * pure id-hash every tier uses) on both sides, plus a leak flag for
    * pairs straddling splits. A near-dup candidate crossing train and
    * test means eval text is arriving that the training set already
    * contains — the monitor a curation pipeline alarms on at INTAKE
    * time, hours before the batch q238 census would catch it.
    *
    * Candidate grain on purpose: the stream rows carry only doc ids
    * (the band state never holds text), so Jaccard verification of a
    * flagged pair is the batch tier's job (q58 over the corpus store);
    * a candidate-grain alert is the correct early-warning contract —
    * band-collision false positives alarm loudly, never silently.
    *
    * Stateless on top of the band-bucket state: the split is per-row
    * hash arithmetic, so this adds ZERO state beyond
    * [[BandBucketProcessor]]'s capped buckets — the 100 TB/day intake
    * story is unchanged. */
  def splitLeakageStream(docs: Dataset[DocEvent],
                         cap: Int = graft.ops.DedupOps.MaxBandBucket)
      : DataFrame = {
    val split = graft.ops.CorpusOps.splitAssign _
    lshCandidatesStream(docs, cap).toDF()
      .filter(!col("saturated"))
      .select(col("band"), col("doc_a"), col("doc_b"),
        split(col("doc_a")).as("split_a"),
        split(col("doc_b")).as("split_b"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
  }

  // ------------------------------------------- streaming count-min
  /** One count-min cell increment on the stream (key = "depth|bucket"). */
  final case class CmInc(cell: String, n: Long)
  /** A maintained count-min cell: emitted with its new total every
    * micro-batch that touches it (Append of the latest value — the
    * FeatureProcessor upsert contract; totals are monotone, so the
    * consumer's max-per-cell IS the current grid). */
  final case class CmCell(depth: Int, bucket: Long, total: Long)

  /** Streaming twin of batch q221's count-min grid: one
    * `ValueState[Long]` counter per (depth, bucket) cell, updated by
    * counter-wise ADDITION — exactly the merge that makes count-min
    * the streaming frequency sketch, so after any prefix of the
    * stream the state equals the batch grid over the same documents
    * (parity-pinned in StreamingSpec). State is 2·CmWidth counters
    * TOTAL regardless of intake volume — the sketch, never tokens. */
  final class CountMinProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, CmInc, CmCell] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode,
      TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState("total", Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[CmInc],
                                 tv: TimerValues): Iterator[CmCell] = {
      var c = if (total.exists) total.get else 0L
      rows.foreach(c += _.n)
      total.update(c)
      val Array(d, b) = key.split('|')
      Iterator.single(CmCell(d.toInt, b.toLong, c))
    }
  }

  // hoisted once: per-token iterator chains + tuple boxing over the
  // Seq would be fresh garbage on every token of the intake hot path
  private val CmA: Array[Long] = graft.ops.CorpusOps.cmAb.map(_._1).toArray
  private val CmB: Array[Long] = graft.ops.CorpusOps.cmAb.map(_._2).toArray

  /** Token → (depth, bucket) cells with EXACTLY q221's hash spelling
    * (token hash = first-codepoint·131 + codepoint-count, row hash =
    * (a·th + b) mod P mod CmWidth) so stream state and batch grid
    * interoperate; the parity test pins this Scala tokenizer against
    * the SQL spelling. */
  private[graft] def tokenCells(text: String): Iterator[(Int, Long)] =
    text.split(" ", -1).iterator.flatMap { t =>
      val th = (if (t.isEmpty) 0L else t.codePointAt(0).toLong) * 131L +
        t.codePointCount(0, t.length).toLong
      (0 until CmA.length).iterator.map { d =>
        (d, (th * CmA(d) + CmB(d)) % 1000000007L
          % graft.ops.CorpusOps.CmWidth)
      }
    }

  /** [[CountMinProcessor]] wired to the intake stream. */
  def countMinStream(docs: Dataset[DocEvent]): Dataset[CmCell] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    docs
      .flatMap(e => tokenCells(e.text).map {
        case (d, bkt) => CmInc(s"$d|$bkt", 1L)
      })
      .groupByKey(_.cell)
      .transformWithState(new CountMinProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}
