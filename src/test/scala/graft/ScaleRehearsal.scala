package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scale rehearsal — executes the 100× story instead of annotating it.
  *
  * Every heavy operator in this repo carries a "100 TB design" note
  * plus a plan contract, but through round 7 nothing had RUN above
  * sf0.1 (~5k docs / 2k vectors). This main amplifies the corpus
  * deterministically (below), re-runs the heaviest dedup / ANN /
  * curation queries at each amplification, and writes
  * `SCALE_LAST.json` with per-query wall times, the fitted growth
  * exponent α (t ∝ N^α between the two largest amplifications), a
  * sub-quadratic verdict per query, and a same-session plan-shape
  * comparison of the static plans (1× vs largest-×: a broadcast the
  * planner swaps for a sort-merge join at bigger inputs is RECORDED,
  * not failed — that is precisely what it should do at scale).
  *
  * Each query's entry also carries its 20 costliest stage groups at
  * the largest amplification (`stage_groups_x<hi>`, from [[Metrics]]):
  * per completed stage, the executor task time, shuffle read/write
  * bytes, input bytes and task count, summed per stage name (the
  * operators the stage ran) so the same logical stage can be compared
  * across amplifications. `growth` is a group's task time over its
  * time at the next-largest amplification. A group whose task time
  * grows ≫ linearly names the saturating structure; uniform mild
  * growth across groups means constant-factor costs (GC, spill,
  * scheduler), not a plan defect.
  *
  * Amplifier (pure Spark, fully deterministic — no RNG, no clock):
  * replica k of `documents` shifts every letter by k mod 26
  * (translate), inserts a replica-tagged WORD-DERIVED salt token
  * after every 2nd word (see [[perturbDocs]] for why the salt must
  * not be constant), and offsets doc_id by k·2²⁰ (base ids < 2²⁰;
  * planted-replay offsets live at ≥ 2⁴⁰, so both recipes keep firing
  * collision-free on the amplified corpus). Token-3-gram shingles
  * always span a salt (salts occur every 3rd stream token), so
  * replica shingle sets are DISJOINT from each other and from the
  * originals — the amplified corpus behaves like a genuinely larger
  * independent corpus (dup densities stay proportional; candidate
  * volume must not blow up quadratically). `embeddings` replicas jitter each dimension by a
  * hash-seeded offset in [−0.05, 0.05) and offset vec_id the same
  * way, spreading replicas into distinct near-neighbors rather than
  * coincident points. lang/source distributions are left unchanged —
  * bounded dimensions stay bounded.
  *
  * Usage (test classpath for PlanFingerprints reuse):
  *   sbt "Test/runMain graft.ScaleRehearsal [sfDir] [workDir] [amps]"
  * defaults: /root/testdata/sf0.1 target/scale 1,8,64
  * env: SPARK_GRAFT_ONLY (comma-separated substrings of any registry
  *   query; default [[RehearsalQueries]]), SPARK_GRAFT_SCALE_OUT,
  *   SPARK_GRAFT_SCALE_SKEW, SPARK_GRAFT_SCALE_REPEATS,
  *   SPARK_GRAFT_SCALE_RELEASE, SPARK_GRAFT_CPUS. A deep stage probe
  *   of two queries is `SPARK_GRAFT_ONLY=q98,q250 … [sfDir] [workDir]
  *   256,1024`.
  */
object ScaleRehearsal {

  /** The rehearsal set — the queries the round-7 verdict named as the
    * heaviest dedup/ANN/curation paths, plus TF-IDF and Lloyd, plus
    * (round 8) the four queries the first rehearsal's findings
    * respelled: the cluster-edge riders q121/q145/q163 and the
    * decimal-census q123 — so the fixes themselves stay evidenced at
    * the largest amplification. */
  val RehearsalQueries: Seq[String] = Seq(
    "q58_jaccard_pairs", "q82_curation", "q85_tfidf_topk",
    "q98_union_dup_clusters", "q102_lloyd_step",
    "q107_minhash_estimate", "q117_ivfpq_search",
    "q121_survivor_election", "q123_source_contamination",
    "q145_quality_dup_calibration", "q163_incremental_clusters",
    "q171_pagerank_dup_graph", "q213_max_shared_run",
    "q250_ppl_gate", "q253_dedup_scope", "q254_phash_dedup",
    "q255_crosslang_leak", "q257_curation_funnel",
    "q262_release_manifest",
    // round-8 fourth session: the q264-q267 tranche — q266 rides
    // q58's candidate layout with the threshold at 0.0 (the largest
    // pair population in the registry), q265 embeds the q240 LM,
    // q264 is vocab-grain scoring, q267 the broadcast-fold screen
    "q264_nb_quality_classifier", "q265_doremi_reweight",
    "q266_lsh_operating_points", "q267_semantic_decon",
    // q271 stacks two partitioned rank lanes on the q262 gate
    // composite — the heaviest new composition of this tranche
    "q271_shard_mixing",
    // round 9: the corpus ENCODE pass — vocab-grain trainer + ONE
    // word-census join + doc-partitioned offset windows (q273), and
    // the packing census over its token counts (q274, vocab lanes
    // pruned by Catalyst)
    "q273_bpe_encode", "q274_bpe_pack",
    // q275 is the production k-NN respelling of embedding dup
    // clustering — k·N edges at any clique size (the ε-graph lane the
    // ×1024 probe measured quadratic pre-amplifier-fix)
    "q275_knn_dup_clusters",
    // round 10: the flagship with its embedding lane on those capped
    // edges — all three evidence lanes linear-volume by construction
    "q276_union_dup_clusters_knn")

  private val SmallTables = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events")

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Replica-k document perturbation (k ≥ 1).
    *
    * The salt token is a deterministic function of the PRECEDING WORD
    * (plus the replica id), not one fixed token: the first cut used a
    * constant per-replica salt, which put ~⅓ of every replica doc's
    * token mass on a single token — the frequency-weighted simhash
    * majority vote then collapsed 62% of the x8 corpus onto ONE
    * signature (a 25k-member hamming-0 clique), which is a property
    * of the amplifier, not of a genuinely larger corpus. Word-derived
    * salts make the replica token multiset a bijective image of the
    * original doubled multiset: per-replica signature/dup structure
    * stays isomorphic to the base corpus (densities proportional),
    * while the replica-unique `zzr{k}x` prefix keeps every salted
    * 3-gram — and every 3-token window spans a salt — disjoint across
    * replicas and from the originals. */
  private def perturbDocs(docs: DataFrame, k: Int): DataFrame = {
    val shift = k % 26
    val rot = Alpha.drop(shift) + Alpha.take(shift)
    docs
      .withColumn("doc_id", col("doc_id") + lit(k.toLong << 20))
      .withColumn("text",
        translate(col("text"), Alpha + Alpha.toUpperCase,
          rot + rot.toUpperCase))
      .withColumn("text", array_join(flatten(
        expr(s"""transform(split(text, ' '), (w, i) ->
             IF((i + 1) % 2 = 0,
                array(w, concat('zzr${k}x',
                  CAST(pmod(hash(w), 997) AS STRING))),
                array(w)))""")),
        " "))
      .withColumn("n_chars", length(col("text")))
  }

  /** Replica-k embedding perturbation (k ≥ 1).
    *
    * Two lanes, each fixing a measured amplifier artifact:
    *   - small per-element noise (as before) so replicas are not
    *     bit-identical;
    *   - a PER-REPLICA deterministic ±1 sign pattern s(k, i) applied
    *     to every vector of replica k. Within a replica the pattern
    *     cancels in every cosine (cos(s⊙u, s⊙v) = cos(u, v)), so
    *     per-replica near-dup structure stays isomorphic to the base
    *     corpus; ACROSS replicas the product pattern s(k,·)s(j,·) is
    *     an independent random sign vector, so cross-replica cosines
    *     concentrate near 0 (std ≈ 1/√dim) and land in unrelated LSH
    *     buckets. Without it, the ×1024 probe measured the x256→x1024
    *     embedding near-dup edge count growing 16× per 4× (quadratic:
    *     every replica of a base vector stayed cosine-close to every
    *     other replica — 102M edges at x1024, 95% of q98's input, the
    *     whole α=1.27 residue; see SCALE_r09_deep).
    *     The text lanes got the equivalent fix (word-derived salts)
    *     in round 8; this is the embedding analogue. */
  private def perturbEmb(emb: DataFrame, k: Int): DataFrame =
    emb
      .withColumn("embedding", expr(
        s"""transform(embedding, (v, i) -> CAST(
            (CASE WHEN pmod(hash($k, i), 2) = 0
              THEN 1.0 ELSE -1.0 END) *
            (v + (pmod(hash(vec_id, $k, i), 1000) / 1000.0 - 0.5) * 0.1)
            AS FLOAT))"""))
      // label = coarse-quantizer cell. q64/q84's documented 100 TB
      // contract is "k ∝ N clusters keeps cell sizes constant"; an
      // amplifier that grows the corpus but not the label space makes
      // label-blocked candidate work quadratic BY CONSTRUCTION (cells
      // grow ∝ N), which is an artifact of the amplifier, not of the
      // queries. Replicating the label space per replica is the
      // embedding analogue of giving each text replica its own salt
      // namespace.
      .withColumn("label", (col("label") + lit(k * 1000)).cast("int"))
      .withColumn("vec_id", col("vec_id") + lit(k.toLong << 20))

  // ----------------------------------------------------- skew profile
  /** Round-10 skew profile (round-9 verdict "What's missing #1"): the
    * uniform amplifier replicates near-uniformly — every replica's
    * dup structure is isomorphic to the base and cross-replica
    * structure is zero BY CONSTRUCTION. Real corpora are Zipfian:
    * hot sources, giant boilerplate families at controlled rates,
    * hot join keys. Three deliberate skew knobs, all deterministic:
    *
    *   1. FAMILY docs (1% of base ids, [[FamDocSelector]]): their
    *      replicas keep the base text VERBATIM plus one
    *      replica-distinct tail token — so each family doc becomes an
    *      A-member cross-replica NEAR-DUP family (shared shingles →
    *      hot posting lists and LSH bands; the df caps and the k-NN
    *      edge cap are exactly the machinery this stresses). A
    *      SEPARATE family population on the embedding side
    *      ([[FamVecSelector]], 5% of base vec_ids — intentionally a
    *      DIFFERENT id set from the 1% text families, because the two
    *      lanes need different base rates: embedding families must
    *      survive q64's `vec_id % 5 = 0` sampling, which only every
    *      5th replica passes, so a 5% base rate nets ~1% of the
    *      sampled corpus — see the [[FamVecSelector]] comment) keeps
    *      the base label (hot cells) and skips the sign scramble
    *      (cross-replica cosines ≈ 1) — the ε-graph lane sees C(A,2)
    *      edges per family where q275/q276's k-NN lane sees ≤ k·A:
    *      the contrast the skew rehearsal exists to measure.
    *   2. ZIPF source mass: every replica doc's `source` is redrawn
    *      from an 8-value Zipf(1) distribution (rank-1 ≈ 36.8% of
    *      mass) — hot groupBy/join keys for every source-grain census
    *      (q241/q251/q265/q271...).
    *   3. Everything else rides the uniform lanes, so the skewed
    *      corpus is the uniform corpus + controlled hot spots, and a
    *      skew-vs-uniform α diff attributes to the skew.
    *
    * The uniform profile's zero-cross-replica invariants
    * (ScaleGrowthSpec) intentionally do NOT hold here — the skew spec
    * pins instead that cross-replica edges appear ONLY among family
    * docs and at the C(A,2)-bounded rate the knobs dictate. */
  private[graft] val FamDocSelector = "pmod(hash(doc_id), 100) = 7"
  // plain modulus (not hash) so family BASE ids sit inside q64's
  // `vec_id % 5 = 0` sample. The replica offset k·2^20 shifts ids by
  // k (mod 5), so only every 5th REPLICA of a family is sampled —
  // the 5% base rate nets ~1% of the SAMPLED corpus in families, and
  // family sizes visible to the near-dup lanes grow as ⌈A/5⌉ (still
  // ∝ A, the knob the skew rehearsal turns)
  private[graft] val FamVecSelector = "pmod(vec_id, 20) = 0"

  /** Zipf(1) over 8 hot sources: p(r) ∝ 1/r, H₈ ≈ 2.7179, CDF·1000 =
    * 368, 552, 675, 767, 841, 902, 955, 1000. */
  private def zipfSourceCase(k: Int): String = {
    val cum = Seq(368, 552, 675, 767, 841, 902, 955, 1000)
    val cases = cum.zipWithIndex.map { case (c, i) =>
      s"WHEN pmod(hash(doc_id, $k, 'zipf'), 1000) < $c THEN 'zsrc${i + 1}'"
    }.mkString(" ")
    s"CASE $cases ELSE source END"
  }

  /** Replica-k document perturbation, skew profile (k ≥ 1). */
  private def perturbDocsSkew(docs: DataFrame, k: Int): DataFrame = {
    val shift = k % 26
    val rot = Alpha.drop(shift) + Alpha.take(shift)
    docs
      // family membership keys on the BASE id (pre-offset) so every
      // replica of a family doc is in the family
      .withColumn("fam", expr(FamDocSelector))
      .withColumn("doc_id", col("doc_id") + lit(k.toLong << 20))
      .withColumn("t_rot",
        translate(col("text"), Alpha + Alpha.toUpperCase,
          rot + rot.toUpperCase))
      .withColumn("t_uni", array_join(flatten(
        expr(s"""transform(split(t_rot, ' '), (w, i) ->
             IF((i + 1) % 2 = 0,
                array(w, concat('zzr${k}x',
                  CAST(pmod(hash(w), 997) AS STRING))),
                array(w)))""")),
        " "))
      .withColumn("text", when(col("fam"),
        // family lane: base text verbatim + one replica tail token —
        // near-dup (not exact-dup) across replicas and vs the base
        concat(col("text"), lit(s" zzrep${k}tl")))
        .otherwise(col("t_uni")))
      .withColumn("n_chars", length(col("text")))
      .withColumn("source", expr(zipfSourceCase(k)))
      .drop("fam", "t_rot", "t_uni")
  }

  /** Replica-k embedding perturbation, skew profile (k ≥ 1). */
  private def perturbEmbSkew(emb: DataFrame, k: Int): DataFrame =
    emb
      .withColumn("fam", expr(FamVecSelector))
      .withColumn("embedding", expr(
        s"""CASE WHEN fam THEN
              transform(embedding, (v, i) -> CAST(
                v + (pmod(hash(vec_id, $k, i), 1000) / 1000.0 - 0.5)
                  * 0.02
                AS FLOAT))
            ELSE
              transform(embedding, (v, i) -> CAST(
                (CASE WHEN pmod(hash($k, i), 2) = 0
                  THEN 1.0 ELSE -1.0 END) *
                (v + (pmod(hash(vec_id, $k, i), 1000) / 1000.0 - 0.5)
                  * 0.1)
                AS FLOAT))
            END"""))
      // family vecs keep the BASE label — a hot quantizer cell that
      // grows with A, the deliberate inverse of the uniform profile's
      // per-replica label-space offset
      .withColumn("label", when(col("fam"), col("label"))
        .otherwise((col("label") + lit(k * 1000)).cast("int")))
      .withColumn("vec_id", col("vec_id") + lit(k.toLong << 20))
      .drop("fam")

  /** The sf dir every amplifier-driven SPEC uses (ScaleGrowthSpec,
    * ReleaseSpec, SkewJoinSpec) — factored so a testdata relayout is
    * a one-line change (round-10 ADVICE). The rehearsal MAIN still
    * takes its sf dir as an argument. */
  private[graft] val SpecSfDir = "/root/testdata/sf0.001"

  /** Amplifier-profile version, baked into every `_AMPLIFIED_OK`
    * marker together with (a, skew). BUMP THIS on ANY change to
    * perturbDocs / perturbEmb / perturbDocsSkew / perturbEmbSkew /
    * zipfSourceCase / Fam*Selector / amplify itself: [[amplify]]
    * treats a marker whose content differs from the current profile
    * string as STALE and rebuilds the dir, so cached amplified trees
    * (including the big target/scale x256/x1024 ones) can no longer
    * silently survive a knob change (round-10 ADVICE; previously the
    * convention was "remember to delete target/scale by hand"). */
  private[graft] val AmplifierVersion = 1

  private[graft] def amplifyProfile(a: Int, skew: Boolean): String =
    s"v$AmplifierVersion a=$a skew=$skew"

  /** Materializes the A×-amplified table dir (idempotent: skips only
    * if the dir carries a marker matching the CURRENT amplifier
    * profile; any other marker content — including the pre-version
    * empty markers — means stale knobs and forces a rebuild). Small
    * tables hard-link/copy through symlinks so the dir is a complete
    * sf layout every `Tables` reader accepts. */
  def amplify(spark: SparkSession, sfDir: String, outDir: String,
              a: Int, skew: Boolean = false): Unit = {
    val profile = amplifyProfile(a, skew)
    val marker = Paths.get(s"$outDir/_AMPLIFIED_OK")
    if (Files.exists(marker) &&
        new String(Files.readAllBytes(marker),
          java.nio.charset.StandardCharsets.UTF_8).trim == profile) return
    val root = Paths.get(outDir)
    if (Files.exists(root)) {
      // stale profile: wipe and regenerate (walk does not follow the
      // small-table symlinks; reverse order deletes children first)
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(Files.delete)
      System.err.println(
        s"[scale] $outDir had a stale amplifier marker - rebuilt as $profile")
    }
    Files.createDirectories(Paths.get(outDir))
    SmallTables.foreach { t =>
      val link = Paths.get(s"$outDir/$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(s"$sfDir/$t.parquet"))
    }
    // replicas are written in bounded batches: a single a-way union is
    // fine to 256 legs, but the x1024 probe would hand Catalyst one
    // 1024-leg union plan — same rows either way, O(1) plan size this way
    val batch = 128
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    (0 until a).grouped(batch).zipWithIndex.foreach { case (ks, bi) =>
      ks.map(k => if (k == 0) docs
          else if (skew) perturbDocsSkew(docs, k)
          else perturbDocs(docs, k))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode(if (bi == 0) "overwrite" else "append")
        .parquet(s"$outDir/documents.parquet")
    }
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    (0 until a).grouped(batch).zipWithIndex.foreach { case (ks, bi) =>
      ks.map(k => if (k == 0) emb
          else if (skew) perturbEmbSkew(emb, k)
          else perturbEmb(emb, k))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode(if (bi == 0) "overwrite" else "append")
        .parquet(s"$outDir/embeddings.parquet")
    }
    Files.write(marker, profile.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
  }

  /** One measured run: wall seconds (-1 on failure) and the run's
    * stage groups. */
  private def runOne(spark: SparkSession, metrics: Metrics, name: String,
                     dir: String): (Double, Seq[Metrics.Stage]) = {
    val sc = spark.sparkContext
    metrics.reset(sc)
    val t0 = System.nanoTime()
    val run =
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, metrics.snapshot(sc).groups)
      } catch { case e: Throwable =>
        System.err.println(s"[scale] $name @ $dir failed: ${e.getMessage}")
        (-1.0, Nil)
      }
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc() // per-query isolation, same rationale as Bench
    run
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("target/scale")
    val amps = args.lift(2).getOrElse("1,8,64")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val outJson =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_LAST.json")
    // skew profile (see the skew-profile scaladoc above); amplified
    // dirs are cached separately from the uniform profile's
    val skew = sys.env.contains("SPARK_GRAFT_SCALE_SKEW")
    // median-of-R per (query, dir) — q58's round-9 α carried a ±0.4
    // error bar from single-shot run variance at ~5 s absolute times
    val repeats = sys.env.get("SPARK_GRAFT_SCALE_REPEATS")
      .map(_.toInt).getOrElse(1)
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(p => SparkEntry.selectedNames(Some(p)))
      .getOrElse(RehearsalQueries)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val metrics = new Metrics
    def newSession(): SparkSession = {
      val s = Sessions.checked(cpus)
      s.sparkContext.setLogLevel("ERROR")
      s.sparkContext.addSparkListener(metrics)
      s
    }
    var spark = newSession()
    // a task OOM in local mode kills the whole SparkContext — record
    // the failure, rebuild the session, and keep measuring the rest
    def ensureAlive(): Unit =
      if (spark.sparkContext.isStopped) {
        println("[scale] SparkContext died — rebuilding session")
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = newSession()
        SparkEntry.entry(spark)
          .write.format("noop").mode("overwrite").save()
      }

    val dirs: Seq[(Int, String)] = amps.map { a =>
      if (a == 1) a -> sfDir
      else {
        val d = if (skew) s"$workDir/skew-x$a" else s"$workDir/x$a"
        println(s"[scale] amplifying x$a (skew=$skew) -> $d")
        amplify(spark, sfDir, d, a, skew)
        a -> d
      }
    }
    val nDocs = dirs.map { case (a, d) =>
      a -> spark.read.parquet(s"$d/documents.parquet").count()
    }.toMap
    println(s"[scale] corpus sizes: $nDocs")

    // warm-up (parquet footers, codegen) before any measured query
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    // measure: per amplification ascending, queries in declared order
    val times = scala.collection.mutable.Map
      .empty[(String, Int), Double]
    val groups = scala.collection.mutable.Map
      .empty[(String, Int), Seq[Metrics.Stage]]
    for ((a, d) <- dirs; n <- names) {
      val runs = (1 to repeats).map { _ =>
        ensureAlive()
        runOne(spark, metrics, n, d)
      }
      val valid = runs.filter(_._1 >= 0).sortBy(_._1)
      val (dt, st) = if (valid.isEmpty) (-1.0, Nil) else valid(valid.size / 2)
      times((n, a)) = dt
      groups((n, a)) = st
      println(f"[scale] x$a%-3d $n%-28s ${dt}%8.2f s" +
        (if (repeats > 1) s" (median of ${valid.size}: " +
          valid.map(v => f"${v._1}%.2f").mkString(", ") + ")" else ""))
    }
    ensureAlive()

    // plan-shape comparison: 1x vs largest amplification, same session
    // (static plans: each query is built and planned at both dirs, and
    // no final plan runs)
    val aLo = amps.head
    val aHi = amps.last
    val shapes = names.map { n =>
      val fp = (d: String) => graft.plans.PlanFingerprints.fingerprint(
        spark)(SparkEntry.queries(n)(spark, d))
      n -> (fp(dirs.head._2), fp(dirs.last._2))
    }.toMap

    // optional: rehearse the release WRITE path at the largest
    // amplification (round-9 verdict "What's missing #3" — the
    // partitioned write + manifest + re-read audit had only ever run
    // at sf0.001 x1)
    val releaseJson =
      if (!sys.env.contains("SPARK_GRAFT_SCALE_RELEASE")) ""
      else {
        ensureAlive()
        val relDir = s"$workDir/release-${if (skew) "skew-" else ""}x$aHi"
        println(s"[scale] writeRelease @ x$aHi -> $relDir")
        val t0 = System.nanoTime()
        val audit =
          try Some(graft.ops.CorpusOps
            .writeRelease(spark, dirs.last._2, relDir).collect())
          catch { case e: Throwable =>
            System.err.println(s"[scale] writeRelease failed: ${e.getMessage}")
            None
          }
        val dt = (System.nanoTime() - t0) / 1e9
        audit match {
          case Some(rows) =>
            val nDocsShipped = rows.map(_.getAs[Long]("rr_n_docs")).sum
            val nToks = rows.map(_.getAs[Long]("rr_n_tokens")).sum
            val allOk = rows.forall(r => r.getAs[Boolean]("ok"))
            println(f"[scale] writeRelease x$aHi: $dt%.2f s, " +
              s"$nDocsShipped docs / $nToks tokens, audit ok=$allOk")
            s""""release_write":{"amp":$aHi,"t_sec":$dt,""" +
              s""""n_docs_shipped":$nDocsShipped,"n_tokens":$nToks,""" +
              s""""n_census_rows":${rows.length},"audit_all_ok":$allOk},"""
          case None =>
            s""""release_write":{"amp":$aHi,"t_sec":$dt,"failed":true},"""
        }
      }

    val aMid = if (amps.size >= 2) amps(amps.size - 2) else aLo
    def q(s: String) =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val rows = names.map { n =>
      val tHi = times((n, aHi))
      val tMid = times((n, aMid))
      // exponent between the two LARGEST points — the small point is
      // dominated by the ~0.5 s JVM fixed cost and would bias α low
      val alpha =
        if (tHi > 0 && tMid > 0 && aHi != aMid)
          math.log(tHi / tMid) / math.log(aHi.toDouble / aMid)
        else Double.NaN
      // sub-quadratic gate, with a floor guard: a query whose hi-scale
      // time is still < 5 s is fixed-cost-dominated and judged pass
      val pass = !tHi.isNaN && tHi >= 0 &&
        (tHi < 5.0 || (!alpha.isNaN && alpha < 2.0))
      val (fpLo, fpHi) = shapes(n)
      val ts = amps.map(a => s"${q("t_x" + a)}:${times((n, a))}")
        .mkString(",")
      val midMs = groups((n, aMid)).map(g => g.name -> g.taskMs).toMap
      val stages = groups((n, aHi)).take(20).map { g =>
        val lo = midMs.get(g.name)
        val growth = lo.filter(_ > 0).map(g.taskMs.toDouble / _).getOrElse(-1.0)
        s"""{"stage":${q(g.name)},"task_ms_hi":${g.taskMs},""" +
          s""""task_ms_lo":${lo.getOrElse(-1L)},""" +
          s""""growth":${"%.2f".format(growth)},""" +
          s""""shuffle_read_b":${g.shuffleReadB},""" +
          s""""shuffle_write_b":${g.shuffleWriteB},""" +
          s""""input_b":${g.inputB},"tasks":${g.tasks}}"""
      }.mkString("[", ",", "]")
      s"""${q(n)}:{$ts,${q("alpha")}:${if (alpha.isNaN) "null" else f"$alpha%.3f"},""" +
        s"""${q("subquadratic_pass")}:$pass,""" +
        s"""${q("plan_shape_stable")}:${fpLo == fpHi},""" +
        (if (fpLo == fpHi) ""
         else s"""${q("plan_x" + aLo)}:${q(fpLo)},${q("plan_x" + aHi)}:${q(fpHi)},""") +
        s"""${q("t_ratio_hi")}:${if (tMid > 0) f"${tHi / tMid}%.2f" else "null"},""" +
        s"""${q("stage_groups_x" + aHi)}:$stages}"""
    }
    val failed = names.filter(n => amps.exists(a => times((n, a)) < 0))
    val json =
      s"""{${q("sf")}:${q(sfDir)},${q("profile")}:${q(if (skew) "skew" else "uniform")},""" +
        s"""${q("repeats")}:$repeats,""" +
        s"""${q("amplifications")}:[${amps.mkString(",")}],""" +
        s"""${q("n_docs")}:{${nDocs.toSeq.sorted.map { case (a, c) => s"${q("x" + a)}:$c" }.mkString(",")}},""" +
        s"""${q("cpus")}:$cpus,""" +
        s"""${q("alpha_grading")}:${q(s"fit between x$aMid and x$aHi")},""" +
        s"""${q("stage_grouping")}:${q(s"by operator name; growth = " +
          s"task-time x$aHi / x$aMid for the same group; linear would be " +
          s"${aHi.toDouble / aMid}")},""" +
        releaseJson +
        s"""${q("failed")}:[${failed.map(q).mkString(",")}],""" +
        s"""${q("queries")}:{${rows.mkString(",")}}}"""
    Files.writeString(Paths.get(outJson), json + "\n")
    println(s"[scale] wrote $outJson")
    spark.stop()
  }
}
