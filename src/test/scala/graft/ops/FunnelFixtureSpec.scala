package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Independent micro-fixture witnesses for the two flagship
  * composites (round-7 verdict item 8): a 12-document corpus whose
  * five-stage q257 funnel table and q262 release census are derived
  * BY HAND from the operator definitions in this file's comments —
  * no shared code with the pipeline, down to reimplementing the
  * split hash and the snake draft in plain Scala.
  *
  * Fixture design (every verdict forced by construction):
  *   - all docs lang='en' → DSIR's target LM IS the raw LM, so every
  *     bucket weight is exactly (ilog(c+1)−ilog(t))−(ilog(c+1)−ilog(t))
  *     = 0 → every doc_bits = 0 ≥ 0 → the DSIR stage is the identity;
  *   - every text has 2 tokens → no trigram evidence → q240/q250
  *     emit nothing → the LM gate ABSTAINS for every doc (q257's
  *     "a gate abstains, it never vetoes blind" contract);
  *   - quality = stopratio·0.5 + min(1, len/400)·0.5 ≥ 0.4: all-
  *     stopword texts score ≈ 0.5075 (pass), no-stopword 5-char
  *     texts ≈ 0.00625 (fail) — nowhere near the 0.4 boundary;
  *   - doc 5 repeats doc 3's text (natural exact dup, min-id
  *     election keeps 3), and ids 0 and 6 (≡ 0 mod 6) get planted
  *     replays at +7·2⁴⁰ that die at dedup.
  */
class FunnelFixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  /** (doc_id, text). Stop-list = {the, a, of, and, in, to}. */
  private val docs = Seq(
    0L -> "the of", // pass quality; id % 6 == 0 -> replayed
    1L -> "the in", // pass
    2L -> "qq zz", // fail
    3L -> "of and", // pass
    4L -> "ww xx", // fail
    5L -> "of and", // dup of 3 -> dies at dedup
    6L -> "to the", // pass; replayed
    7L -> "yy uu", // fail
    8L -> "in to", // pass
    9L -> "aa bb", // fail
    10L -> "and a", // pass
    11L -> "cc dd") // fail

  private lazy val dir: String = {
    val s = spark
    import s.implicits._
    val d = java.nio.file.Files.createTempDirectory("funnel12").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
    d
  }

  test("q257 five-stage table matches the hand computation exactly") {
    val got = graft.SparkEntry
      .queries("q257_curation_funnel")(spark, dir).collect()
      .map(r => r.getAs[String]("stage") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("token_share")))).toMap
    // Hand computation: raw = 12 + 2 replays = 14 docs, 2 tokens
    // each; dedup kills both replays and doc 5 → 11; quality keeps
    // the 6 all-stopword texts {0,1,3,6,8,10}; LM abstains; DSIR
    // passes everything (bits = 0).
    val want = Map(
      "raw" -> ((14L, 28L, 1.0)),
      "exact_dedup" -> ((11L, 22L, 22.0 / 28.0)),
      "quality" -> ((6L, 12L, 12.0 / 28.0)),
      "lm_gate" -> ((6L, 12L, 12.0 / 28.0)),
      "dsir" -> ((6L, 12L, 12.0 / 28.0)))
    assert(got == want, s"got $got")
  }

  test("q262 release census matches an independent snake-draft " +
    "reimplementation over the hand-derived survivors") {
    // hard-gate survivors (dedup ∧ quality ∧ LM-abstain) by hand:
    val survivors = Seq(0L, 1L, 3L, 6L, 8L, 10L)
    // independent split hash (the o262 spelling, plain Scala)
    def split(id: Long): String = {
      val b = (((id % 1000000007L) * 2654435761L + 5851L)
        % 1000000007L) % 100L
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    // independent snake draft: rank by (ntok desc, id asc) within
    // split — every ntok = 2, so rank order is id order
    val want = survivors.groupBy(split).toSeq.flatMap { case (sp, ids) =>
      ids.sorted.zipWithIndex.map { case (_, i) =>
        val rank = i + 1L
        val shard =
          if (((rank - 1) / 8) % 2 == 0) (rank - 1) % 8
          else 8 - 1 - (rank - 1) % 8
        (sp, shard)
      }
    }.groupBy(identity).map { case ((sp, sh), g) =>
      (sp, sh) -> g.size.toLong
    }
    val splitTokens = want.groupBy(_._1._1)
      .map { case (sp, m) => sp -> m.values.sum * 2L }
    val got = graft.SparkEntry
      .queries("q262_release_manifest")(spark, dir).collect()
      .map(r => (r.getAs[String]("split"), r.getAs[Long]("shard")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("balance")))).toMap
    assert(got.keySet == want.keySet,
      s"shards ${got.keySet} != ${want.keySet}")
    got.foreach { case ((sp, sh), (nd, nt, bal)) =>
      assert(nd == want((sp, sh)), s"($sp,$sh) n_docs $nd")
      assert(nt == nd * 2L, s"($sp,$sh) n_tokens $nt")
      assert(bal == nt.toDouble / (splitTokens(sp).toDouble / 8.0),
        s"($sp,$sh) balance $bal")
    }
  }
}
