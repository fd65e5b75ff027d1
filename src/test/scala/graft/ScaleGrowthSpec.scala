package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression guard distilled from the round-8 scale rehearsal: the
  * dedup evidence paths must grow LINEARLY with corpus amplification.
  * The rehearsal found two quadratic regressions the oracle gate
  * cannot see (it only runs at fixed SF): the simhash all-pairs
  * census fed to cluster consumers (~10⁸ edges on a 40k corpus once
  * boilerplate collapses 34% of docs onto one signature), and an
  * int64 fixed-point census sum that overflows past ~9.2k pairs per
  * group. This spec re-runs the amplifier at sf0.001 ×4 — small
  * enough for the suite, structured identically — and asserts the
  * EDGE-COUNT growth contract exactly (deterministic counts, not
  * wall-clock, so it cannot flake on a loaded machine). */
class ScaleGrowthSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSession.spark

  private val sf = ScaleRehearsal.SpecSfDir
  private lazy val ampDir: String = {
    val d = "target/scale-spec/x4"
    ScaleRehearsal.amplify(spark, sf, d, 4)
    d
  }

  test("amplifier: x4 corpus is exactly 4x docs with disjoint ids " +
    "and proportional planted-replay mass") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val amp = spark.read.parquet(s"$ampDir/documents.parquet")
    assert(amp.count() == 4 * base.count())
    assert(amp.select(col("doc_id")).distinct().count() == amp.count())
    // the exact-dedup recipe (planted replays at ids ≥ 2⁴⁰ in the
    // GENERATOR corpus) must keep firing proportionally: q54's dup
    // count at x4 = 4 × its count at x1 (replicas are bijective
    // images of the base corpus, fingerprint structure preserved)
    def dups(d: String): Long = {
      val fp = graft.ops.TextOps.fingerprintCol
      val docs = Tables.documents(spark, d).withColumn("fp", fp)
      docs.count() - docs.select(col("fp")).distinct().count()
    }
    assert(dups(ampDir) == 4 * dups(sf))
  }

  test("amplifier: x4 embedding near-dup structure is replica-" +
    "isomorphic — no cross-replica edges, per-replica counts near base") {
    // the round-9 ×1024 probe caught the embedding analogue of the
    // round-8 constant-salt collapse: replicas of one base vector
    // stayed pairwise cosine-close AND shared the base label space,
    // so q64's near-dup edge count grew 16× per 4× amplification
    // (102M edges at x1024 = 95% of q98's input). The fix is a
    // per-replica ±1 sign pattern (cancels within a replica, scrambles
    // across) plus a per-replica label-space offset (the "k ∝ N
    // clusters" production contract). This pins both: cross-replica
    // edges must be STRUCTURALLY zero (labels disjoint), and each
    // replica's internal edge count must stay near the base corpus's
    // (the ±noise moves borderline-0.3 pairs slightly).
    val baseEdges = graft.ops.VectorOps
      .q64CosineNearDup(spark, sf).count()
    val amp = graft.ops.VectorOps.q64CosineNearDup(spark, ampDir)
      .withColumn("rep_a", expr("id_a div 1048576"))
      .withColumn("rep_b", expr("id_b div 1048576"))
    val cross = amp.filter(col("rep_a") =!= col("rep_b")).count()
    assert(cross == 0L,
      s"cross-replica embedding near-dup edges must be zero, got $cross")
    val perRep = amp.groupBy(col("rep_a")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRep.size == 4, s"expected 4 replicas, got ${perRep.keys}")
    perRep.foreach { case (rep, n) =>
      assert(n >= baseEdges / 2 && n <= baseEdges * 2,
        s"replica $rep edge count $n far from base $baseEdges — " +
          "amplified near-dup structure is no longer isomorphic")
    }
  }

  test("cluster-grain simhash edges satisfy the exact structural " +
    "identity: (docs − distinct sigs) stars + one edge per verified " +
    "signature pair — NO member-pair quadratic term, at any scale") {
    // the contract the round-8 OOM fix established: member-pair
    // volume may never appear in the cluster-edge count. Star edges
    // are exactly n_docs − n_distinct_signatures (m−1 per group) and
    // cross edges exactly the verified signature-pair count, so the
    // total is an identity we can assert EXACTLY — on the base dir
    // and on the amplified dir, where cross-replica near-signatures
    // (the token hash is locality-heavy by design) would have made
    // an all-pairs spelling blow up C(m,2)-style instead.
    for (d <- Seq(sf, ampDir)) {
      val sig = graft.ops.DedupOps.q59SimHash(spark, d).localCheckpoint()
      val nDocs = sig.count()
      val nSigs = sig.select(col("simhash")).distinct().count()
      val nSigPairs = graft.ops.DedupOps.verifiedSigPairs(
        sig.select(col("simhash")).distinct()).count()
      val edges = graft.ops.DedupOps.q60ClusterEdges(spark, d).count()
      assert(edges == (nDocs - nSigs) + nSigPairs,
        s"$d: $edges edges vs ${nDocs - nSigs} stars + $nSigPairs sig pairs")
    }
  }

  test("q98 on the amplified dir: clusters stay a partition of the " +
    "clustered docs and keep at least the base corpus's mass") {
    val out4 = SparkEntry.queries("q98_union_dup_clusters")(spark, ampDir)
      .localCheckpoint()
    val n1 = SparkEntry.queries("q98_union_dup_clusters")(spark, sf).count()
    assert(out4.count() >= n1, "amplification lost cluster mass")
    assert(out4.select(col("doc_id")).distinct().count() == out4.count(),
      "a doc appears in two clusters")
    // cluster_size is consistent with the actual membership census
    val bad = out4.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), max(col("cluster_size")).as("sz"),
        min(col("cluster_size")).as("sz2"))
      .filter(col("n") =!= col("sz") || col("n") =!= col("sz2"))
      .count()
    assert(bad == 0L, s"$bad clusters with inconsistent cluster_size")
  }

  test("fixed-point census sums survive past int64 via decimal(38,0) " +
    "(the q255/q123 overflow class)") {
    val s = spark
    import s.implicits._
    // 10k pairs at the 1e15 fixed point = 10¹⁹ > Long.MaxValue
    // (9.22·10¹⁸): the int64 sum ANSI-aborts exactly as the ×64
    // rehearsal showed; the decimal(38,0) spelling both queries now
    // ride must return the exact total.
    val jfp = (1 to 10000).map(_ => 1000000000000000L).toDF("j_fp")
    val dec = jfp
      .agg(sum($"j_fp".cast("decimal(38,0)")).cast("double").as("s"))
      .head.getDouble(0)
    assert(dec == 1.0e19, s"decimal census sum inexact: $dec")
    val int64 = intercept[Exception] {
      jfp.agg(sum($"j_fp").cast("long")).head.getLong(0)
    }
    assert(int64.getMessage.toLowerCase.contains("overflow"),
      s"expected the int64 spelling to overflow, got: ${int64.getMessage}")
  }

  // ------------------------------------------------- skew profile
  // x8, not x4: the replica vec_id offset shifts ids by k (mod 5), so
  // q64's `% 5` sample sees a family replica only at k ≡ 0 (mod 5) —
  // the smallest amplification with a SAMPLED cross-replica family
  // pair is x8 (k ∈ {0, 5})
  private val SkewAmp = 8
  private lazy val skewDir: String = {
    val d = s"target/scale-spec/skew-x$SkewAmp"
    ScaleRehearsal.amplify(spark, sf, d, SkewAmp, skew = true)
    d
  }

  test("skew amplifier: amplified docs with unique ids, family docs " +
    "are verbatim-plus-tail near-dups, replica source mass is Zipf-hot") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val amp = spark.read.parquet(s"$skewDir/documents.parquet")
    assert(amp.count() == SkewAmp * base.count())
    assert(amp.select(col("doc_id")).distinct().count() == amp.count())
    // family membership keys on the base id, so the family count is
    // exactly SkewAmp x the base family count. Planted-replay docs
    // (base ids >= 2^40) make base-id recovery via pmod ambiguous —
    // restrict both sides to the normal id space (replicas of normal
    // docs all land under SkewAmp * 2^20; planted docs and their
    // replicas are >= 2^40)
    val famBase = base.filter(col("doc_id") < lit(1L << 20))
      .filter(expr(ScaleRehearsal.FamDocSelector)).count()
    assert(famBase >= 2, s"fixture too small: $famBase family docs")
    val famAmp = amp.filter(col("doc_id") < lit(SkewAmp.toLong << 20))
      .filter(expr("pmod(hash(pmod(doc_id, 1048576)), 100) = 7"))
    assert(famAmp.count() == SkewAmp * famBase)
    // family replicas: base text verbatim + one replica tail token
    val famTexts = famAmp
      .withColumn("base_id", expr("pmod(doc_id, 1048576)"))
      .withColumn("rep", expr("doc_id div 1048576"))
      .select(col("base_id"), col("rep"), col("text"))
      .collect()
      .groupBy(_.getAs[Long]("base_id"))
    famTexts.foreach { case (bid, rows) =>
      val byRep = rows.map(r =>
        r.getAs[Long]("rep") -> r.getAs[String]("text")).toMap
      assert(byRep.keySet == (0L until SkewAmp.toLong).toSet,
        s"family $bid reps: ${byRep.keySet}")
      (1L until SkewAmp.toLong).foreach { k =>
        assert(byRep(k) == byRep(0L) + s" zzrep${k}tl",
          s"family $bid replica $k is not base-verbatim + tail")
      }
    }
    // Zipf sources: replica rows redraw from zsrc1..zsrc8, rank-1
    // carries ~36.8% of replica mass (binomial noise at n≈3500 keeps
    // the observed share within a few points)
    val repSrc = amp
      .filter(col("doc_id") >= lit(1L << 20)
        && col("doc_id") < lit(SkewAmp.toLong << 20))
      .groupBy(col("source")).count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count"))
      .toMap
    assert(repSrc.keySet.subsetOf((1 to 8).map("zsrc" + _).toSet),
      s"replica sources outside the Zipf domain: ${repSrc.keySet}")
    val total = repSrc.values.sum.toDouble
    val hot = repSrc.getOrElse("zsrc1", 0L) / total
    assert(hot > 0.30 && hot < 0.45,
      s"zsrc1 share $hot outside the Zipf(1) envelope [0.30, 0.45]")
    assert(repSrc.getOrElse("zsrc1", 0L) > repSrc.getOrElse("zsrc8", 0L),
      "Zipf ordering lost between rank 1 and rank 8")
  }

  test("skew amplifier: cross-replica embedding near-dup edges exist " +
    "and every k>=1 endpoint of one is a family vec") {
    // the deliberate inverse of the uniform profile's zero-cross-
    // replica invariant: family vecs keep the base label and skip the
    // sign scramble, so their replicas form cosine~1 cross-replica
    // cliques; NON-family replicas still cannot cross-match (their
    // label space is offset per replica)
    val amp = graft.ops.VectorOps.q64CosineNearDup(spark, skewDir)
      .withColumn("rep_a", expr("id_a div 1048576"))
      .withColumn("rep_b", expr("id_b div 1048576"))
      .withColumn("fam_a", expr("pmod(pmod(id_a, 1048576), 20) = 0"))
      .withColumn("fam_b", expr("pmod(pmod(id_b, 1048576), 20) = 0"))
      .localCheckpoint()
    val cross = amp.filter(col("rep_a") =!= col("rep_b"))
    assert(cross.count() > 0L,
      "skew profile produced no cross-replica embedding edges")
    val badA = cross
      .filter(col("rep_a") >= 1 && !col("fam_a")).count()
    val badB = cross
      .filter(col("rep_b") >= 1 && !col("fam_b")).count()
    assert(badA + badB == 0L,
      s"non-family replica endpoints on cross-replica edges: $badA+$badB")
    // family clique volume is bounded by C(#sampled reps, 2) per
    // family base vec (the controlled quadratic-in-A knob): at x8
    // only k ∈ {0, 5} of a family are in q64's % 5 sample, so
    // same-base cross-replica pairs are at most C(2,2) = 1 per family
    val sampledReps = (0 until SkewAmp).count(_ % 5 == 0)
    val capPairs = sampledReps.toLong * (sampledReps - 1) / 2
    val sameBase = cross
      .filter(expr("pmod(id_a, 1048576) = pmod(id_b, 1048576)"))
      .groupBy(expr("pmod(id_a, 1048576)").as("base_id"))
      .count().collect()
    assert(sameBase.nonEmpty,
      "no same-base cross-replica family pairs surfaced")
    sameBase.foreach { r =>
      assert(r.getAs[Long]("count") <= capPairs,
        s"family ${r.getAs[Long]("base_id")}: more than C($sampledReps,2) " +
          s"cross-replica pairs (${r.getAs[Long]("count")})")
    }
  }

  test("jaccard census: decimal sum is exact on a maximal capped " +
    "identical-text group") {
    val s = spark
    import s.implicits._
    // MaxShingleDf-sized identical-text group (the largest a posting
    // list admits): every pair has jaccard exactly 1.0, so the
    // decimal-summed fixed point must equal n_pairs × 1e15 exactly
    val docs = (1L to 100L)
      .map(i => (i,
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val r = graft.ops.DedupOps.jaccardPairsOver(docs)
      .select(floor($"jaccard" * lit(1.0e15)).cast("long").as("j_fp"))
      .agg(count(lit(1)).as("n"),
        sum($"j_fp".cast("decimal(38,0)")).cast("double").as("s"))
      .head
    assert(r.getLong(0) == 100L * 99L / 2,
      s"expected C(100,2) pairs, got ${r.getLong(0)}")
    assert(r.getDouble(1) == r.getLong(0).toDouble * 1.0e15)
  }
}
