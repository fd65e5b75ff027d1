package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based invariants over randomized inputs — the cases
  * hand-written fixtures don't reach: the custom top-k operator must
  * agree with the window spelling on ANY data, the SCD2 merge must
  * keep its history invariants under ANY snapshot, and the xlsx
  * writer/reader must round-trip ANY grid of strings. */
object EngineProperties extends Properties("engine") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10) // each trial runs Spark jobs

  lazy val spark: SparkSession = TestSession.spark

  // ---------------------------------------------------- pair generation
  private val pairArr: Gen[List[Long]] =
    Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-100L, 100L))).map(_.distinct.sorted)

  property("pairGenExpr emits exactly the i<j pairs of any sorted array") =
    Prop.forAllNoShrink(pairArr) { arr =>
      val s = spark
      import s.implicits._
      // seven posting-list queries (q58/q60/q156/q157/q167/q170/q174)
      // share this one spelling — pin it against the direct Scala
      // definition of "all unordered pairs, left element first"
      val got = Seq(arr).toDF("ds")
        .select(explode(expr(graft.ops.DedupOps.pairGenExpr("ds",
          "named_struct('a', element_at(ds, i), 'b', x)"))).as("p"))
        .select($"p.a", $"p.b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        i <- arr.indices; j <- (i + 1) until arr.size
      } yield (arr(i), arr(j))).toSet
      got == want
    }

  // ---------------------------------------------------------- top-k
  private val topkRows: Gen[List[(Int, Int)]] =
    Gen.choose(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(0, 4), Gen.choose(-50, 50))))

  property("TopK.perGroup == row_number window, any data") =
    Prop.forAllNoShrink(topkRows, Gen.choose(1, 5)) { (rows, k) =>
      val s = spark
      import s.implicits._
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g.toLong, v.toLong, i.toLong) }
        .toDF("grp", "value", "id")
      val ours = graft.plans.TopK
        .perGroup(df, Seq("grp"), Seq(("value", true), ("id", false)), k)
        .select("grp", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val w = Window.partitionBy($"grp")
        .orderBy($"value".desc, $"id".asc)
      val ref = df.withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select("grp", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      ours == ref
    }

  // ------------------------------------------- two-level exact rank
  private val tlrRows: Gen[List[(Int, Long)]] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0, 2),
        // nonnegative (the valueBucket contract), wide spread so rows
        // cross bucket boundaries, plus heavy ties
        Gen.oneOf(Gen.choose(0L, 9L), Gen.choose(0L, 999999L)))))

  property("twoLevelRank == row_number window, any data, both " +
    "directions, global and partitioned") =
    Prop.forAllNoShrink(tlrRows, Gen.oneOf(true, false),
      Gen.oneOf(true, false)) { (rows, asc, partitioned) =>
      val s = spark
      import s.implicits._
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g.toLong, v, i.toLong) }
        .toDF("grp", "value", "id")
      val parts = if (partitioned) Seq("grp") else Seq.empty[String]
      // five queries ride this layout (q153/q161/q250/q261/q262) —
      // pin it against the naive window spelling they all mirror in
      // their oracles
      val ours = graft.ops.Relational
        .twoLevelRank(df, "value", "id", asc, parts)
        .select("grp", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ord: Seq[org.apache.spark.sql.Column] =
        if (asc) Seq($"value".asc, $"id".asc)
        else Seq($"value".desc, $"id".asc)
      val w = Window
        .partitionBy(parts.map(col): _*)
        .orderBy(ord: _*)
      val ref = df.withColumn("rank", row_number().over(w).cast("long"))
        .select("grp", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      ours == ref
    }

  // ----------------------------------------------- fingerprint kernel
  // arbitrary unicode-ish text with spaces (including empty tokens,
  // leading/trailing/double spaces, non-ASCII and non-BMP codepoints)
  private val fpText: Gen[String] = {
    val tok = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.const(""),
      Gen.oneOf("é", "€", "中文", "😀", "a b".take(1)),
      Gen.listOfN(3, Gen.choose(33.toChar, 0x2FF.toChar)).map(_.mkString))
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, tok))
      .map(_.mkString(" "))
  }

  property("fingerprint64_native == composed HOF spelling, any text") =
    Prop.forAllNoShrink(Gen.listOfN(8, fpText)) { texts =>
      val s = spark
      import s.implicits._
      val df = texts.toDF("text")
      val got = df.select(graft.ops.TextOps.fingerprintCol.as("fp"))
        .collect().map(_.getLong(0)).toSeq
      val ref = df.select(graft.ops.TextOps.fingerprintColComposed.as("fp"))
        .collect().map(_.getLong(0)).toSeq
      got == ref
    }

  property("minhash4_native == composed 4-lane array_min spelling") =
    Prop.forAllNoShrink(Gen.listOfN(6,
      Gen.choose(0, 10).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0L, 1000000006L))))) { arrs =>
      val s = spark
      import s.implicits._
      val df = arrs.zipWithIndex.map { case (a, i) => (i.toLong, a) }
        .toDF("doc_id", "shs")
      def sig(v: org.apache.spark.sql.DataFrame) =
        v.orderBy($"doc_id").collect()
          .map(r => (0 to 3).map(j =>
            if (r.isNullAt(j + 1)) None else Some(r.getLong(j + 1)))).toSeq
      sig(graft.ops.DedupOps.minhashFrom(df)) ==
        sig(graft.ops.DedupOps.minhashFromComposed(df))
    }

  property("winnow4_native == composed window-min spelling, any array") =
    Prop.forAllNoShrink(Gen.listOfN(6,
      Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.choose(0L, 1000000006L))))) { arrs =>
      val s = spark
      import s.implicits._
      val df = arrs.zipWithIndex.map { case (a, i) => (i.toLong, a) }
        .toDF("doc_id", "shs")
      def sel(v: org.apache.spark.sql.DataFrame) =
        v.orderBy($"doc_id").select($"sel").collect()
          .map(_.getSeq[Long](0).toList).toSeq
      sel(graft.ops.DedupOps.withWinnowed(df)) ==
        sel(graft.ops.DedupOps.withWinnowedComposed(df))
    }

  property("skyline two-phase (grid prune + staircase) == brute-force " +
    "dominance on arbitrary points and bucket widths") =
    Prop.forAllNoShrink(
      Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, Gen.zip(
        Gen.choose(0, 40), Gen.choose(0, 40)))),
      Gen.oneOf(1.0, 3.0, 7.0, 1000.0)) { (raw, width) =>
      val s = spark
      import s.implicits._
      val pts = raw.zipWithIndex.map { case ((p, q), i) =>
        (i.toLong, BigDecimal(p).setScale(2), BigDecimal(q).setScale(2))
      }
      val df = pts.toDF("l_partkey", "p", "q")
        .select($"l_partkey", $"p".cast("decimal(18,2)").as("p"),
          $"q".cast("decimal(18,2)").as("q"))
      val got = graft.ops.InsightOps.skylineOf(df, width)
        .select($"l_partkey").as[Long].collect().toSet
      // brute force: on the front iff nothing strictly dominates
      val ref = pts.filter { case (i, p, q) =>
        !pts.exists { case (j, p2, q2) =>
          j != i && p2 <= p && q2 >= q && (p2 < p || q2 > q)
        }
      }.map(_._1).toSet
      got == ref
    }

  property("shingles3_native == composed HOF spelling, any text") =
    Prop.forAllNoShrink(Gen.listOfN(8, fpText)) { texts =>
      val s = spark
      import s.implicits._
      val df = texts.toDF("text")
      def shs(v: org.apache.spark.sql.DataFrame) =
        v.select($"shs").collect().map(_.getSeq[Long](0).toList).toSeq
      shs(graft.ops.DedupOps.withShingles(df)) ==
        shs(graft.ops.DedupOps.withShinglesComposed(df))
    }

  property("shinglesK_native == composed zip_with chain, any text " +
    "(K = RunK), and K = 3 == shingles3") =
    Prop.forAllNoShrink(Gen.listOfN(8, fpText)) { texts =>
      val s = spark
      import s.implicits._
      val df = texts.toDF("text")
      def arr(v: org.apache.spark.sql.DataFrame, c: String) =
        v.select(col(c)).collect().map(_.getSeq[Long](0).toList).toSeq
      val native = arr(df.withColumn("ws", call_function("shinglesk_native",
        col("text"), lit(graft.ops.DedupOps.RunK))), "ws")
      val composed = arr(df
        .withColumn("th", expr(
          "transform(split(text, ' '), x -> CAST(ascii(x) * 131 + length(x) AS BIGINT))"))
        .withColumn("ws", expr(
          graft.ops.DedupOps.runWindowsComposedExpr)), "ws")
      val k3 = arr(df.withColumn("ws",
        call_function("shinglesk_native", col("text"), lit(3))), "ws")
      val sh3 = arr(graft.ops.DedupOps.withShingles(df)
        .withColumnRenamed("shs", "ws"), "ws")
      native == composed && k3 == sh3
    }

  // ------------------------------------------------- vector kernels
  private val vecPair: Gen[(List[Float], List[Float])] = for {
    n <- Gen.choose(1, 64)
    a <- Gen.listOfN(n, Gen.chooseNum(-100f, 100f))
    b <- Gen.listOfN(n, Gen.chooseNum(-100f, 100f))
  } yield (a, b)

  property("dot_f32_native == composed HOF fold, any float vectors") =
    Prop.forAllNoShrink(Gen.listOfN(6, vecPair)) { pairs =>
      val s = spark
      import s.implicits._
      val df = pairs.toDF("a", "b")
      val got = df.selectExpr("dot_f32_native(a, b) AS d")
        .collect().map(_.getDouble(0)).toSeq
      val ref = df.selectExpr(
        """aggregate(
             transform(sequence(1, size(a)), i ->
               CAST(element_at(a, i) AS DOUBLE)
                 * CAST(element_at(b, i) AS DOUBLE)),
             CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d""")
        .collect().map(_.getDouble(0)).toSeq
      // bit-equal, not approximately equal: same IEEE op sequence
      got.map(java.lang.Double.doubleToLongBits) ==
        ref.map(java.lang.Double.doubleToLongBits)
    }

  property("l2sq_native == zip_with fold, any float/double vectors") =
    Prop.forAllNoShrink(Gen.listOfN(6, vecPair)) { pairs =>
      val s = spark
      import s.implicits._
      // right side double, mirroring the float-embedding-vs-double-
      // centroid shape of q102/q124
      val df = pairs.map { case (a, b) => (a, b.map(_.toDouble)) }
        .toDF("a", "b")
      val got = df.selectExpr("l2sq_native(a, b) AS d")
        .collect().map(_.getDouble(0)).toSeq
      val ref = df.selectExpr(
        """aggregate(
             zip_with(a, b, (x, c) ->
               (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),
             CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS d""")
        .collect().map(_.getDouble(0)).toSeq
      got.map(java.lang.Double.doubleToLongBits) ==
        ref.map(java.lang.Double.doubleToLongBits)
    }

  // ------------------------------------ vector kernels: NULL paths
  // unequal lengths and null elements — the kernels' NULL semantics
  // (mismatched length or any null element → NULL, mirroring
  // zip_with's null padding through the fold) exercised against the
  // composed spellings, which the equal-length generator never hits
  private val raggedPair
      : Gen[(List[Option[Float]], List[Option[Float]])] = for {
    n <- Gen.choose(0, 6)
    m <- Gen.choose(0, 6)
    a <- Gen.listOfN(n, Gen.option(Gen.chooseNum(-10f, 10f)))
    b <- Gen.listOfN(m, Gen.option(Gen.chooseNum(-10f, 10f)))
  } yield (a, b)

  property("vector kernels match zip_with NULL semantics, ragged/null") =
    Prop.forAllNoShrink(Gen.listOfN(8, raggedPair)) { pairs =>
      val s = spark
      import s.implicits._
      val df = pairs.map { case (a, b) => (a, b.map(_.map(_.toDouble))) }
        .toDF("a", "b")
      def vals(q: String): Seq[Option[Long]] =
        df.selectExpr(s"$q AS v").collect()
          .map(r => if (r.isNullAt(0)) None
            else Some(java.lang.Double.doubleToLongBits(r.getDouble(0))))
          .toSeq
      val dotGot = vals("dot_f32_native(a, b)")
      val dotRef = vals(
        """aggregate(zip_with(a, b, (x, y) ->
             CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v)""")
      val l2Got = vals("l2sq_native(a, b)")
      val l2Ref = vals(
        """aggregate(zip_with(a, b, (x, c) ->
             (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),
           CAST(0 AS DOUBLE), (acc, v) -> acc + v)""")
      // and the NULL contract itself, stated directly: mismatched
      // lengths or any null element → NULL (both-empty → 0.0)
      val expectNull = pairs.map { case (a, b) =>
        a.length != b.length || a.exists(_.isEmpty) || b.exists(_.isEmpty)
      }
      dotGot == dotRef && l2Got == l2Ref &&
        dotGot.zip(expectNull).forall { case (v, n) => v.isEmpty == n }
    }

  // ----------------------------------------------------------- SCD2
  private val scdState: Gen[(Map[Int, Option[String]],
                             Map[Int, Option[String]])] = {
    val seg = Gen.option(Gen.oneOf("A", "B", "C"))
    for {
      curKeys <- Gen.someOf(0 to 9)
      curSegs <- Gen.listOfN(curKeys.size, seg)
      incKeys <- Gen.someOf(0 to 9)
      incSegs <- Gen.listOfN(incKeys.size, seg)
    } yield (curKeys.zip(curSegs).toMap, incKeys.zip(incSegs).toMap)
  }

  property("Scd2.merge invariants, any open-history + snapshot") =
    Prop.forAllNoShrink(scdState) { case (cur, inc) =>
      val s = spark
      import s.implicits._
      val current = cur.toSeq
        .map { case (k, seg) => (k.toLong, seg.orNull, "2023-01-01",
          null.asInstanceOf[String]) }
        .toDF("k", "seg", "valid_from", "valid_to")
      val incoming = inc.toSeq
        .map { case (k, seg) => (k.toLong, seg.orNull) }
        .toDF("k", "seg")
      val out = ops.Scd2
        .merge(current, incoming, "k", Seq("seg"), "2024-06-01")
        .collect()
        .map(r => (r.getAs[Long]("k"), Option(r.getAs[String]("seg")),
          r.getAs[String]("valid_from"), r.getAs[String]("valid_to")))
      val open = out.filter(_._4 == null)
      // exactly the snapshot keys are open, each once, with its seg
      open.map(r => r._1 -> r._2).toMap ==
        inc.map { case (k, v) => k.toLong -> v } &&
      open.length == inc.size &&
      // keys absent from the snapshot only ever appear CLOSED
      out.filter(r => !inc.contains(r._1.toInt)).forall(_._4 != null) &&
      // nothing is ever lost: every current key still has >= 1 row
      cur.keySet.forall(k => out.exists(_._1 == k.toLong))
    }

  // ----------------------------------------------------------- xlsx
  private val cell: Gen[String] = Gen.oneOf(
    Gen.const(null).map(_.asInstanceOf[String]),
    Gen.oneOf("", " ", "0", "007", "café", "a&<b>\"c'", "=SUM(A1)",
      "5,000.00", "año \t raro", "😀", "x" * 40),
    Gen.alphaNumStr.map(_.take(20)))

  private val grid: Gen[List[List[String]]] =
    Gen.choose(0, 6).flatMap(r => Gen.listOfN(r,
      Gen.choose(0, 5).flatMap(c => Gen.listOfN(c, cell))))

  property("xlsx write → read round-trips any string grid") =
    Prop.forAllNoShrink(grid) { g =>
      val bytes = sources.Xlsx.writeBytes(
        Seq("Hoja" -> g.map(_.map(x => x: Any))))
      val back = sources.Xlsx.read(bytes).grid("Hoja")
      // null cells are never written, so the sheet's width is the max
      // LAST-NON-NULL index across rows; rows dense-fill to it, and
      // trailing all-null ROWS store no cells at all
      val effWidth =
        (0 :: g.map(row => row.lastIndexWhere(_ != null) + 1)).max
      val expected = g.map(row =>
        (row ++ List.fill(math.max(0, effWidth - row.length))(null))
          .take(effWidth))
        .reverse.dropWhile(_.forall(_ == null)).reverse
      val got = back.map(_.toList)
      got == expected
    }
}
