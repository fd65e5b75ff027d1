package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Independent micro-fixture witness for the BPE ENCODE pass (q273 /
  * q274): a 6-document corpus whose expected outputs come from a
  * FROM-SCRATCH plain-Scala BPE — trainer (greedy leftmost
  * non-overlapping merges, (freq desc, pair asc) tie-break, 10 rounds)
  * AND encoder (dense lexicographic vocab ids, position-weighted id
  * checksum) — no shared code with the pipeline.
  *
  * Fixture design: a tiny two-"language" corpus where the first
  * merges are forced and hand-traceable ("abab"-family words make
  * (a,b) the clear first merge and exercise the overlap rule), word
  * multiplicities differ across docs (so the census weighting
  * matters), and one doc repeats a word (so doc order/positions
  * matter to the checksum).
  */
class BpeEncodeFixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  /** (doc_id, lang, text). */
  private val docs = Seq(
    (0L, "en", "abab ab cd"),
    (1L, "en", "abab abab cdcd"),
    (2L, "en", "ab ab ab cd"),
    (3L, "xx", "dcba abcd"),
    (4L, "xx", "aaa bbb abab"),
    (5L, "xx", "cd cd dc"))

  private lazy val dir: String = {
    val s = spark
    import s.implicits._
    val d = java.nio.file.Files.createTempDirectory("bpefix6").toString
    docs.toDF("doc_id", "lang", "text")
      .selectExpr("doc_id", "text", "lang", "'s0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
    d
  }

  // ---- from-scratch BPE (plain Scala, no pipeline code) ----
  /** Greedy leftmost non-overlapping application of one merge. */
  private def applyMerge(syms: List[String], mx: String, my: String)
      : List[String] = syms match {
    case a :: b :: rest if a == mx && b == my =>
      (mx + my) :: applyMerge(rest, mx, my)
    case a :: rest => a :: applyMerge(rest, mx, my)
    case Nil => Nil
  }

  /** 10 trainer rounds over the weighted word census; returns the
    * final word → symbol-sequence table. */
  private lazy val trainedWords: Map[String, List[String]] = {
    val counts: Map[String, Long] = docs
      .flatMap(_._3.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    var words: Map[String, List[String]] =
      counts.keys.map(w => w -> w.split("").toList).toMap
    for (_ <- 1 to 10) {
      val census = words.toSeq.flatMap { case (w, syms) =>
        syms.zip(syms.tail).map(p => p -> counts(w))
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      if (census.nonEmpty) {
        val ((mx, my), _) = census.toSeq.minBy {
          case ((x, y), n) => (-n, x, y)
        }
        words = words.map { case (w, syms) =>
          w -> applyMerge(syms, mx, my)
        }
      }
    }
    words
  }

  private lazy val vocabIds: Map[String, Long] =
    trainedWords.values.flatten.toSeq.distinct.sorted
      .zipWithIndex.map { case (t, i) => t -> (i + 1L) }.toMap

  /** Expected (n_words, n_tokens, id_checksum) per doc. */
  private lazy val expectedDocs: Map[Long, (Long, Long, Long)] =
    docs.map { case (id, _, text) =>
      val ws = text.split(" ").filter(_.nonEmpty).toSeq
      val ids = ws.flatMap(w => trainedWords(w).map(vocabIds))
      val checksum = ids.zipWithIndex
        .map { case (tid, i) => (i + 1L) * tid }.sum
      id -> (ws.size.toLong, ids.size.toLong, checksum)
    }.toMap

  test("the fixture's first merge is (a,b) and overlap is exercised") {
    // "abab" (cnt 4: docs 0,1x2,4) + "ab" (cnt 5) make (a,b) dominant;
    // applying it to "abab" must yield [ab, ab], never a mid-overlap
    assert(trainedWords("abab").forall(_ == "ab") ||
      trainedWords("abab") == List("abab"))
    assert(trainedWords.values.exists(_.length > 1),
      "some word must stay multi-token")
  }

  test("q273 per-doc encode equals the from-scratch tokenizer") {
    val got = graft.SparkEntry.queries("q273_bpe_encode")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == docs.size)
    docs.foreach { case (id, lang, _) =>
      val r = got(id)
      val (nw, nt, ck) = expectedDocs(id)
      assert(r.getAs[String]("lang") == lang)
      assert(r.getAs[Long]("n_words") == nw, s"n_words: $r")
      assert(r.getAs[Long]("n_tokens") == nt, s"n_tokens: $r")
      assert(r.getAs[Long]("id_checksum") == ck,
        s"id_checksum: $r expected $ck")
      assert(r.getAs[Double]("fertility") == nt.toDouble / nw)
    }
  }

  test("q274 packing equals the from-scratch greedy layout") {
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      var cum = 0L
      ds.sortBy(_._1).map { case (id, _, _) =>
        val nt = expectedDocs(id)._2
        cum += nt
        (lang, (cum - nt) / 512L) -> nt
      }
    }.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.size.toLong, xs.map(_._2).sum)
    }
    val got = graft.SparkEntry.queries("q274_bpe_pack")(spark, dir)
      .collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val k = (r.getAs[String]("lang"), r.getAs[Long]("seq_id"))
      val (nd, nt) = expected(k)
      assert(r.getAs[Long]("n_docs") == nd, s"n_docs: $r")
      assert(r.getAs[Long]("n_tokens") == nt, s"n_tokens: $r")
      assert(r.getAs[Double]("fill_pct") == nt.toDouble * 100.0 / 512.0)
    }
  }
}
