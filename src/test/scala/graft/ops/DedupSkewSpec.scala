package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => PropTest}
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-skew contracts for the banded pair generators (the
  * round-5 verdict's #1): a bucket of IDENTICAL signatures — what
  * planted replay corpora and boilerplate produce — must pre-collapse
  * into one group (its member pairs are output, not candidate waste),
  * and residual band buckets holding more than
  * `DedupOps.MaxBandBucket` DISTINCT signatures must drop identically
  * to the oracle's mirrored cap. */
class DedupSkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def sigFrame(rows: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "simhash")
  }

  test("all-identical corpus: exactly C(n,2) hamming-0 pairs, " +
    "generated from ONE collapsed group") {
    val n = 60
    val out = DedupOps.simhashPairsFrom(
      sigFrame((1L to n.toLong).map(i => i -> 0xABCD1234L))).collect()
    assert(out.length == n * (n - 1) / 2)
    assert(out.forall(_.getAs[Int]("hamming") == 0))
    // pairs are ordered and unique
    val pairs = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length)
  }

  test("over-cap band bucket drops its cross-signature candidates") {
    // MaxBandBucket+1 DISTINCT signatures share the top half; low
    // halves 0..cap are pairwise within hamming 2 for many pairs —
    // all must drop because the band-0 bucket exceeds the cap and
    // the band-1 buckets are singletons.
    val top = 0x7L << 16
    val sigs = (0 to DedupOps.MaxBandBucket)
      .map(i => (i + 1).toLong -> (top | i.toLong))
    val out = DedupOps.simhashPairsFrom(sigFrame(sigs)).collect()
    assert(out.isEmpty)
  }

  test("at-cap band bucket keeps its candidates (boundary is <=)") {
    val top = 0x7L << 16
    val sigs = (0 until DedupOps.MaxBandBucket)
      .map(i => (i + 1).toLong -> (top | i.toLong))
    val out = DedupOps.simhashPairsFrom(sigFrame(sigs)).collect()
    // e.g. low halves 0 and 1 differ by one bit → hamming 1 survives
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Int]("hamming") <= DedupOps.SimHashHammingMax))
  }

  test("mixed: identical-signature clique + near signature cross pairs") {
    // 5 docs share signature A; doc 6 differs from A by one low bit
    // (same top half). Expect C(5,2)=10 hamming-0 pairs + 5 cross
    // pairs at hamming 1 — and nothing else.
    val a = 0x00050003L
    val rows = (1L to 5L).map(_ -> a) :+ (6L -> (a ^ 1L))
    val out = DedupOps.simhashPairsFrom(sigFrame(rows)).collect()
    val (h0, h1) = out.partition(_.getAs[Int]("hamming") == 0)
    assert(h0.length == 10 && h1.length == 5)
    assert(h1.forall(_.getLong(1) == 6L))
  }

  test("property: n identical docs always yield n·(n−1)/2 pairs, " +
    "all hamming 0 (bounded output, no quadratic candidate waste)") {
    val prop = Prop.forAllNoShrink(Gen.choose(2, 40),
      Gen.choose(0L, 0xFFFFFFFFL)) { (n: Int, sig: Long) =>
      val out = DedupOps.simhashPairsFrom(
        sigFrame((1L to n.toLong).map(_ -> sig))).collect()
      out.length == n * (n - 1) / 2 &&
        out.forall(_.getAs[Int]("hamming") == 0)
    }
    val res = PropTest.check(
      PropTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("giant identical-signature group (> InRowPairMembers) takes " +
    "the self-join lane and still emits exactly C(m,2) hamming-0 pairs") {
    // the boilerplate regime the round-8 scale rehearsal hit: a
    // 25k-member simhash clique OOM'd the in-row C(m,2) array; the
    // join lane must produce the identical pair set as rows
    val m = DedupOps.InRowPairMembers + 100
    val out = DedupOps.simhashPairsFrom(
      sigFrame((1L to m.toLong).map(i => i -> 0x5A5A5A5AL)))
    assert(out.count() == m.toLong * (m - 1) / 2)
    val agg = out.agg(
      min(col("doc_a")), max(col("doc_b")),
      sum(col("hamming")), countDistinct(col("doc_a"), col("doc_b")),
      sum(when(col("doc_a") < col("doc_b"), 0L).otherwise(1L))).head
    assert(agg.getLong(0) == 1L && agg.getLong(1) == m.toLong)
    assert(agg.getLong(2) == 0L, "all pairs hamming 0")
    assert(agg.getLong(3) == m.toLong * (m - 1) / 2, "pairs unique")
    assert(agg.getLong(4) == 0L, "doc_a < doc_b everywhere")
  }

  test("giant group cross-pairs a near signature through the " +
    "join-back + chained-explode lane") {
    val m = DedupOps.InRowPairMembers + 50
    val a = 0x00050003L
    val rows = (1L to m.toLong).map(_ -> a) :+ ((m + 1).toLong -> (a ^ 1L))
    val out = DedupOps.simhashPairsFrom(sigFrame(rows))
    val h1 = out.filter(col("hamming") === 1)
    assert(h1.count() == m.toLong, "every clique member pairs the neighbor")
    assert(h1.filter(col("doc_b") =!= (m + 1).toLong).count() == 0)
    assert(out.filter(col("hamming") === 0).count() ==
      m.toLong * (m - 1) / 2)
  }

  // ------------------------------------- cluster edges (q83/q98 form)

  /** Union-find components over an undirected edge array. */
  private def comps(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) x = parent(x)
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.map(k => k -> find(k)).toMap
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  test("clusterEdges: identical components, node set, and per-doc " +
    "incidence as the all-pairs census — with linear edge volume") {
    // two cliques with a verified bridge (hamming 1, same top half) +
    // an isolated pair + a fully isolated singleton (must NOT appear)
    val a = 0x00050003L
    val rows =
      (1L to 5L).map(_ -> a) ++           // clique A
      (10L to 13L).map(_ -> (a ^ 1L)) ++  // clique B, hamming-1 from A
      Seq(20L -> 0x7777000AL, 21L -> 0x7777000AL, // isolated pair
        30L -> 0x1234FFFFL)               // isolated singleton
    val allPairs = edgeSet(DedupOps.simhashPairsFrom(sigFrame(rows)))
    val cluster = edgeSet(DedupOps.simhashClusterEdges(sigFrame(rows)))
    // linear volume: 4 + 3 + 1 star edges + 1 cross edge
    assert(cluster.length == 9)
    assert(allPairs.length == 10 + 6 + 20 + 1) // C(5,2)+C(4,2)+5·4+C(2,2)
    // same node set, same components, same incidence
    val nodes = (e: Array[(Long, Long)]) => e.flatMap(p => Seq(p._1, p._2)).toSet
    assert(nodes(cluster) == nodes(allPairs) && !nodes(cluster)(30L))
    assert(comps(cluster) == comps(allPairs))
  }

  test("property: clusterEdges components ≡ all-pairs components on " +
    "random signature multisets") {
    val prop = Prop.forAllNoShrink(
      Gen.listOfN(24, Gen.choose(0L, 15L))) { sigs: List[Long] =>
      // signatures drawn from a 16-value space with small hamming
      // distances → dense groups, verified cross pairs, and isolates
      val rows = sigs.zipWithIndex.map { case (g, i) =>
        (i + 1).toLong -> (0xAB00L | g)
      }
      val ap = edgeSet(DedupOps.simhashPairsFrom(sigFrame(rows)))
      val ce = edgeSet(DedupOps.simhashClusterEdges(sigFrame(rows)))
      comps(ce) == comps(ap) && ce.length <= ap.length
    }
    val res = PropTest.check(
      PropTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("clusterEdges: giant identical-signature group stays linear " +
    "(m-1 star edges, no C(m,2))") {
    val m = DedupOps.InRowPairMembers + 500
    val out = DedupOps.simhashClusterEdges(
      sigFrame((1L to m.toLong).map(i => i -> 0x5A5A5A5AL)))
    assert(out.count() == m - 1L)
    val agg = out.agg(min(col("doc_a")), max(col("doc_a"))).head
    assert(agg.getLong(0) == 1L && agg.getLong(1) == 1L,
      "every star edge anchors at the representative (min id)")
  }

  test("withinPairs: join lane ≡ in-row lane on a multi-column key") {
    val s = spark
    import s.implicits._
    // two groups sharing key prefix, one above / one below the bound
    // after we shrink it via a local recompute: compare against brute
    // force on a small frame where both lanes' outputs are enumerable
    val groups = Seq(
      (1L, 2L, (1L to 5L).toArray),
      (1L, 3L, (10L to 12L).toArray),
      (2L, 2L, Array(20L, 21L))).toDF("k1", "k2", "raw")
      .select($"k1", $"k2", sort_array($"raw").as("ids"))
    val got = DedupOps.withinPairs(groups, Seq("k1", "k2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Seq((1L to 5L), (10L to 12L), (20L to 21L))
      .flatMap(g => for (x <- g; y <- g if x < y) yield (x, y)).toSet
    assert(got == want)
  }

  // --------------------------------------------------- winnowing (q208)

  private def winnowedSets(texts: Seq[(Long, String)]): Map[Long, Set[Long]] = {
    val s = spark
    import s.implicits._
    DedupOps.withWinnowed(DedupOps.withShingles(
        texts.toDF("doc_id", "text")))
      .select($"doc_id", $"sel").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
  }

  test("winnowing guarantee: a shared run of ≥ W+2 tokens always " +
    "shares a selected fingerprint, whatever surrounds it") {
    // two docs embed the same 8-token run (> W+2 = 6) at arbitrary
    // positions inside otherwise-disjoint random token streams
    val word = Gen.choose('b', 'y').flatMap(c =>
      Gen.choose(1, 6).map(len => c.toString * len))
    val stream = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, word))
    val run = "zz qq ww rr tt uu vv ss"
    val prop = Prop.forAllNoShrink(stream, stream, stream, stream) {
      (a1, a2, b1, b2) =>
        val docA = (a1 :+ run) ++ a2
        val docB = (b1 :+ run) ++ b2
        val sets = winnowedSets(Seq(
          1L -> docA.mkString(" "), 2L -> docB.mkString(" ")))
        (sets(1L) intersect sets(2L)).nonEmpty
    }
    val res = PropTest.check(
      PropTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("winnowing coverage: every W-window of the shingle stream " +
    "contains a selected fingerprint; short/empty docs are total") {
    val sets = winnowedSets(Seq(
      1L -> "aa bb cc dd ee ff gg hh ii jj",
      2L -> "aa bb cc",    // exactly one shingle (< W) -> its min
      3L -> "aa",          // no shingles -> empty selection
      4L -> ""))
    val s = spark
    import s.implicits._
    val shs = DedupOps.withShingles(
        Seq(1L -> "aa bb cc dd ee ff gg hh ii jj").toDF("doc_id", "text"))
      .select($"shs").collect()(0).getSeq[Long](0)
    val w = DedupOps.WinnowW
    (0 to shs.length - w).foreach { i =>
      assert(sets(1L).contains(shs.slice(i, i + w).min),
        s"window at $i lost its minimum")
    }
    assert(sets(2L).size == 1 && sets(3L).isEmpty && sets(4L).isEmpty)
  }

  // --- q213 diagonal islands: planted run of known length -----------
  // Token pools with pairwise-DISTINCT (first char, length) pairs —
  // the shingle token hash is ascii(head)*131 + length, so distinct
  // pairs guarantee distinct token hashes and the ONLY shared
  // shingles between the two docs are the planted run's.
  private def pool(chars: Seq[Char]): IndexedSeq[String] =
    (for { c <- chars; len <- 1 to 6 } yield c.toString * len)
      .toIndexedSeq

  test("property: q213 reports a planted shared run at EXACTLY its " +
    "length; one token shorter than the threshold stays silent") {
    val poolA = pool('a' to 'h')
    val poolB = pool('i' to 'p')
    val poolR = pool('q' to 'z')
    val gen = for {
      runLen <- Gen.choose(DedupOps.MinRunTokens, 20)
      preA <- Gen.choose(0, 20); sufA <- Gen.choose(0, 20)
      preB <- Gen.choose(0, 20); sufB <- Gen.choose(0, 20)
    } yield (runLen, preA, sufA, preB, sufB)
    val prop = Prop.forAllNoShrink(gen) {
      case (runLen, preA, sufA, preB, sufB) =>
        val run = poolR.take(runLen)
        val docA = (poolA.take(preA) ++ run ++
          poolA.slice(preA, preA + sufA)).mkString(" ")
        val docB = (poolB.take(preB) ++ run ++
          poolB.slice(preB, preB + sufB)).mkString(" ")
        val s = spark
        import s.implicits._
        val out = DedupOps.maxSharedRunFrom(
          Seq(1L -> docA, 2L -> docB).toDF("doc_id", "text")).collect()
        out.length == 1 &&
          out(0).getAs[Long]("max_run_tokens") == runLen.toLong
    }
    val res = PropTest.check(
      PropTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("q213 threshold boundary: an 11-token shared run (< " +
    "MinRunTokens = 12) yields no pair") {
    val s = spark
    import s.implicits._
    val run = pool('q' to 'z').take(DedupOps.MinRunTokens - 1)
    val docA = (pool('a' to 'h').take(5) ++ run).mkString(" ")
    val docB = (run ++ pool('i' to 'p').take(5)).mkString(" ")
    val out = DedupOps.maxSharedRunFrom(
      Seq(1L -> docA, 2L -> docB).toDF("doc_id", "text")).collect()
    assert(out.isEmpty)
  }
}
