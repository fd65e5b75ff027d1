package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Independent micro-fixture witness for the NB classifier stack
  * (q264 confusion / q268 calibration / q269 agreement): a
  * 12-document corpus whose expected outputs are derived by a
  * FROM-SCRATCH plain-Scala Naive Bayes — no shared code with the
  * pipeline, down to reimplementing the split hash, the quality
  * label, and the ilog256 fixed-point log (via numberOfLeadingZeros
  * instead of the pipeline's bin()-length spelling).
  *
  * Fixture design:
  *   - 2-token texts throughout → no trigram evidence → the q250 LM
  *     gate ABSTAINS for every doc, so q269's lm lane is
  *     constant-true and both kappas against it are EXACTLY 0
  *     (p_obs = p_exp = P(other gate); the hand-checkable degenerate);
  *   - all-stopword texts (quality ≈ 0.506) sit far above the 0.42
  *     label threshold, no-stopword 5-char texts (≈ 0.006) far
  *     below — labels are unambiguous;
  *   - stopword tokens occur only in positive docs and junk tokens
  *     only in negative docs, so the NB evidence is strongly signed
  *     wherever the token was seen in train.
  */
class NbFixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  /** (doc_id, text). Stop-list = {the, a, of, and, in, to}. */
  private val docs = Seq(
    0L -> "the of", 1L -> "the in", 2L -> "qq zz", 3L -> "of and",
    4L -> "ww xx", 5L -> "and to", 6L -> "to the", 7L -> "yy uu",
    8L -> "in to", 9L -> "aa bb", 10L -> "and a", 11L -> "qq dd")

  private lazy val dir: String = {
    val s = spark
    import s.implicits._
    val d = java.nio.file.Files.createTempDirectory("nbfix12").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
    d
  }

  // ---- independent reimplementation (plain Scala, no pipeline code)
  private val stops = Set("the", "a", "of", "and", "in", "to")

  private def split(id: Long): String = {
    val b = ((id % 1000000007L) * 2654435761L + 5851L) % 1000000007L % 100L
    if (b < 80) "train" else if (b < 90) "val" else "test"
  }

  private def label(text: String): Long = {
    // denominator is the UNFILTERED split length (split(" ", -1) keeps
    // trailing empties), matching qualityCol/qualitySql exactly — a
    // filtered count only agrees on texts with no repeated/trailing
    // spaces, which this fixture's texts happened to satisfy
    val t = text.split(" ", -1)
    val q = (t.count(stops).toDouble / t.length) * 0.5 +
      math.min(1.0, text.length.toDouble / 400.0) * 0.5
    if (math.floor(q * 1e6) >= 420000) 1L else 0L
  }

  /** Fixed-point log2 in 1/256 bits — independent spelling. */
  private def ilog(x: Long): Long = {
    require(x >= 1)
    val m = 63 - java.lang.Long.numberOfLeadingZeros(x)
    m * 256L + (x * 256L) / (1L << m) - 256L
  }

  private case class Doc(id: Long, text: String) {
    val sp: String = split(id)
    val y: Long = label(text)
    val toks: Seq[String] = text.split(" ").filter(_.nonEmpty).toSeq
  }

  private lazy val all = docs.map { case (id, t) => Doc(id, t) }
  private lazy val train = all.filter(_.sp == "train")

  /** (doc → total NB log-odds bits) by the definition in q264's
    * scaladoc, computed from scratch. */
  private lazy val bits: Map[Long, Long] = {
    val occ1 = train.filter(_.y == 1L).flatMap(_.toks)
    val occ0 = train.filter(_.y == 0L).flatMap(_.toks)
    val vocab = train.flatMap(_.toks).distinct
    val v = vocab.size.toLong
    val t1 = occ1.size.toLong
    val t0 = occ0.size.toLong
    val d1 = train.count(_.y == 1L).toLong
    val d0 = train.count(_.y == 0L).toLong
    def wBits(w: String): Long = {
      val n1 = occ1.count(_ == w).toLong
      val n0 = occ0.count(_ == w).toLong
      (ilog(n1 + 1) - ilog(t1 + v)) - (ilog(n0 + 1) - ilog(t0 + v))
    }
    val prior = ilog(d1) - ilog(d0)
    all.map(dc => dc.id -> (dc.toks.map(wBits).sum + prior)).toMap
  }

  test("fixture exercises both labels and all three splits in train") {
    assert(train.count(_.y == 1L) >= 2 && train.count(_.y == 0L) >= 2)
    assert(all.map(_.sp).distinct.size == 3)
  }

  test("q264 confusion census equals the from-scratch NB") {
    val expected = all.groupBy(_.sp).map { case (sp, ds) =>
      val preds = ds.map(dc => (dc.y, if (bits(dc.id) >= 0) 1L else 0L))
      sp -> (ds.size.toLong,
        preds.count(_._1 == 1L).toLong,
        preds.count(_._2 == 1L).toLong,
        preds.count(p => p._1 == 1L && p._2 == 1L).toLong,
        preds.count(p => p._1 == 0L && p._2 == 0L).toLong)
    }
    val got = graft.SparkEntry.queries("q264_nb_quality_classifier")(
      spark, dir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(r.getAs[String]("split"))
      assert(r.getAs[Long]("n_docs") == e._1, s"n_docs: $r")
      assert(r.getAs[Long]("n_label_pos") == e._2, s"n_label_pos: $r")
      assert(r.getAs[Long]("n_pred_pos") == e._3, s"n_pred_pos: $r")
      assert(r.getAs[Long]("tp") == e._4, s"tp: $r")
      assert(r.getAs[Long]("tn") == e._5, s"tn: $r")
    }
  }

  test("q268 calibration buckets equal the from-scratch evidence") {
    val expected = all.groupBy(dc => (dc.sp,
      math.max(-8L, math.min(8L, Math.floorDiv(bits(dc.id), 64L)))))
      .map { case (k, ds) =>
        k -> (ds.size.toLong, ds.count(_.y == 1L).toLong,
          ds.map(dc => bits(dc.id)).sum)
      }
    val got = graft.SparkEntry.queries("q268_nb_calibration")(
      spark, dir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val k = (r.getAs[String]("split"), r.getAs[Long]("bucket"))
      val e = expected(k)
      assert(r.getAs[Long]("n_docs") == e._1, s"n_docs: $r")
      assert(r.getAs[Long]("n_pos") == e._2, s"n_pos: $r")
      assert(math.abs(r.getAs[Double]("mean_bits")
        - e._3.toDouble / (e._1 * 256.0)) < 1e-12, s"mean_bits: $r")
    }
  }

  test("q272 ROC sweep equals the from-scratch cumulative counts") {
    def bucketOf(b: Long): Long =
      math.max(-8L, math.min(8L, Math.floorDiv(b, 64L)))
    val expected: Map[(String, Long), (Long, Long, Long, Long)] =
      all.groupBy(_.sp).flatMap { case (sp, ds) =>
        val wb = ds.map(dc => (bucketOf(bits(dc.id)), dc.y))
        val pos = wb.count(_._2 == 1L).toLong
        val neg = wb.count(_._2 == 0L).toLong
        wb.map(_._1).distinct.map { thr =>
          (sp, thr) -> (wb.count(t => t._1 >= thr && t._2 == 1L).toLong,
            wb.count(t => t._1 >= thr && t._2 == 0L).toLong, pos, neg)
        }
      }
    val got = graft.SparkEntry.queries("q272_nb_roc_sweep")(
      spark, dir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val k = (r.getAs[String]("split"), r.getAs[Long]("thr"))
      val (tp, fp, pos, neg) = expected(k)
      assert(r.getAs[Long]("tp") == tp, s"tp: $r")
      assert(r.getAs[Long]("fp") == fp, s"fp: $r")
      // a split with no positives (negatives) reports NULL tpr (fpr) —
      // the guard's convention; this fixture's test split is all-pos
      if (pos > 0)
        assert(r.getAs[Double]("tpr") == tp.toDouble / pos, s"tpr: $r")
      else assert(r.isNullAt(r.fieldIndex("tpr")), s"tpr: $r")
      if (neg > 0)
        assert(r.getAs[Double]("fpr") == fp.toDouble / neg, s"fpr: $r")
      else assert(r.isNullAt(r.fieldIndex("fpr")), s"fpr: $r")
      assert(r.getAs[Double]("prec") == tp.toDouble / (tp + fp),
        s"prec: $r")
      if (pos > 0 && neg > 0)
        assert(r.getAs[Double]("youden_j")
          == tp.toDouble / pos - fp.toDouble / neg, s"youden_j: $r")
      else assert(r.isNullAt(r.fieldIndex("youden_j")), s"youden_j: $r")
    }
    // the sweep's loosest threshold admits everything: tpr = fpr = 1
    all.map(_.sp).distinct.foreach { sp =>
      val minThr = expected.keys.filter(_._1 == sp).map(_._2).min
      val (tp, fp, pos, neg) = expected((sp, minThr))
      assert(tp == pos && fp == neg,
        s"$sp: loosest threshold must admit all docs")
    }
  }

  test("q269: with the LM gate abstaining everywhere, both kappas " +
    "against it are exactly zero") {
    val got = graft.SparkEntry.queries("q269_gate_agreement")(
      spark, dir).collect()
      .map(r => (r.getAs[String]("gate_a"), r.getAs[String]("gate_b"))
        -> r).toMap
    // 2-token docs carry no trigram -> q250 emits nothing -> lm lane
    // is constant true -> p_obs == p_exp == P(other gate = 1)
    Seq(("rule", "lm"), ("nb", "lm")).foreach { k =>
      val r = got(k)
      assert(r.getAs[Double]("p_obs") == r.getAs[Double]("p_exp"),
        s"abstaining lane should be chance-level: $r")
      assert(r.getAs[Double]("kappa") == 0.0, s"kappa: $r")
    }
    // and rule-vs-nb matches the from-scratch confusion
    val rb = got(("rule", "nb"))
    val agree = all.count(dc =>
      (dc.y == 1L) == (bits(dc.id) >= 0L)).toLong
    assert(rb.getAs[Double]("p_obs") == agree.toDouble / all.size)
  }

  test("hashed NB model is dense over 0..255: every bucket — seen in " +
    "train or not — carries the smoothed formula weight, and the gate " +
    "scores never-seen tokens with it") {
    val model = graft.ops.CorpusOps.nbHashedWeights(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("w_bits"))
      .toMap
    assert(model.size == 257,
      s"expected 256 bucket rows + prior at -1, got ${model.size}")
    // from-scratch hashed census (independent bucket-hash spelling)
    def bucket(w: String): Long =
      w.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % 1000000007L) % 256L
    val n1 = Array.fill(256)(0L)
    val n0 = Array.fill(256)(0L)
    train.foreach(dc => dc.toks.foreach { w =>
      if (dc.y == 1L) n1(bucket(w).toInt) += 1
      else n0(bucket(w).toInt) += 1
    })
    val t1 = n1.sum; val t0 = n0.sum
    val seenB = (0 until 256).filter(b => n1(b) + n0(b) > 0).toSet
    // the 12-doc fixture leaves almost every bucket unseen — exactly
    // the case the dense left-join exists for (a sparse model made
    // the gate default these to 0, diverging from the NB formula by
    // a class-balance-dependent constant per token — round-9 ADVICE)
    assert(seenB.size < 32 && seenB.nonEmpty)
    def wB(b: Int): Long =
      (ilog(n1(b) + 1) - ilog(t1 + 256)) - (ilog(n0(b) + 1) - ilog(t0 + 256))
    (0 until 256).foreach { b =>
      assert(model(b.toLong) == wB(b),
        s"bucket $b (seen=${seenB(b)}): model=${model(b.toLong)} " +
          s"scratch=${wB(b)}")
    }
    val d1 = train.count(_.y == 1L).toLong
    val d0 = train.count(_.y == 0L).toLong
    val prior = ilog(d1) - ilog(d0)
    assert(model(-1L) == prior)
    // end-to-end: the gate (a plain projection — works on batch
    // frames too) scores a doc of tokens hashing to UNSEEN buckets
    // as prior + their smoothed weights, not prior + 0
    val novelToks = Seq("zzzqx", "vvvty", "qqqwj", "mmmrk", "hhhpv")
      .filter(w => !seenB(bucket(w).toInt)).take(2)
    assert(novelToks.size == 2, "fixture needs 2 unseen-bucket tokens")
    val s2 = spark
    import s2.implicits._
    val novel = Seq((99L, novelToks.mkString(" ")))
      .toDF("doc_id", "text")
    val gated = graft.streaming.CorpusStreaming.nbGateStream(
      novel, graft.ops.CorpusOps.nbHashedWeights(spark, dir)).collect()
    val want = prior + novelToks.map(w => wB(bucket(w).toInt)).sum
    assert(gated.head.getAs[Long]("nb_bits") == want)
  }
}
