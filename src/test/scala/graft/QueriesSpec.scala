package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end smoke + targeted assertions for every SparkEntry query at
  * sf0.001 (the driver's t1 tier). One shared session per suite. */
class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestSession.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("BPE leftmost merge: overlapping runs take every other pair; " +
    "trailing symbol survives") {
    val s = spark
    import s.implicits._
    def apply1(word: String, x: String, y: String): Seq[String] =
      Seq(word).toDF("w")
        .withColumn("syms", org.apache.spark.sql.functions.expr(
          "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .withColumn("mx", org.apache.spark.sql.functions.lit(x))
        .withColumn("my", org.apache.spark.sql.functions.lit(y))
        .withColumn("folded", org.apache.spark.sql.functions.expr(
          graft.ops.CorpusOps.bpeFoldExpr))
        .selectExpr(graft.ops.CorpusOps.bpeFinishExpr + " AS m")
        .collect()(0).getSeq[String](0)
    assert(apply1("aaa", "a", "a") == Seq("aa", "a"))
    assert(apply1("aaaa", "a", "a") == Seq("aa", "aa"))
    assert(apply1("ababa", "a", "b") == Seq("ab", "ab", "a"))
    assert(apply1("xay", "a", "b") == Seq("x", "a", "y"))
    assert(apply1("ab", "a", "b") == Seq("ab"))
  }

  test("every declared query executes at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("every query with an oracle is declared") {
    val undeclared = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(undeclared.isEmpty, s"oracle without query: $undeclared")
  }

  test("every query has an oracle, sketch spellings excepted") {
    // a silently missing oracle would downgrade that query to the
    // driver's rows-only check — only the two estimate-valued sketch
    // queries are legitimately oracle-free
    val rowsOnly = Set("q155_table_profile_sketch",
      "q168_length_quantiles_sketch")
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"query without oracle: $missing")
  }

  test("q155 sketch profiler tracks exact distincts within HLL error") {
    val exact = SparkEntry.queries("q128_table_profile")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"),
          r.get(3), r.get(4)))).toMap
    val est = SparkEntry.queries("q155_table_profile_sketch")(spark, sf)
      .collect()
    assert(est.length == exact.size)
    est.foreach { r =>
      val c = r.getString(0)
      val (exNulls, exDist, exMin, exMax) = exact(c)
      val a = r.getAs[Long]("n_distinct_est").toDouble
      // approx_count_distinct default rsd is 5%; allow 3 sigma
      assert(math.abs(a - exDist.toDouble) <=
        math.max(3.0, 0.15 * exDist.toDouble),
        s"$c: est $a vs exact $exDist")
      // nulls/min/max stay exact — identical to q128's
      assert(r.getAs[Long]("n_nulls") == exNulls, c)
      assert(r.get(3) == exMin && r.get(4) == exMax, c)
    }
  }

  test("q168 sketch quantiles track exact ranks within GK error") {
    val exact = SparkEntry.queries("q101_length_quantiles")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val est = SparkEntry.queries("q168_length_quantiles_sketch")(spark, sf)
      .collect()
    assert(est.length == exact.size)
    est.foreach { r =>
      val lang = r.getString(0)
      val ex = exact(lang)
      // count/min/max stay exact
      assert(r.getAs[Long]("n_docs") == ex.getAs[Long]("n_docs"), lang)
      assert(r.getAs[Long]("min_chars") == ex.getAs[Long]("min_chars"), lang)
      assert(r.getAs[Long]("max_chars") == ex.getAs[Long]("max_chars"), lang)
      // GK sketch at accuracy 10000: rank error ≤ n/10000, which at
      // test scale is sub-1-rank — allow the one-rank discretization
      // gap between ceil-rank (q101) and the sketch's floor pick
      val spread = ex.getAs[Long]("max_chars") - ex.getAs[Long]("min_chars")
      for ((e, a) <- Seq("p25" -> "p25_est", "p50" -> "p50_est",
        "p75" -> "p75_est", "p90" -> "p90_est")) {
        val d = math.abs(r.getAs[Long](a) - ex.getAs[Long](e)).toDouble
        assert(d <= math.max(1.0, 0.1 * spread.toDouble),
          s"$lang $e: est ${r.getAs[Long](a)} vs exact ${ex.getAs[Long](e)}")
      }
    }
  }

  test("q167 detects every planted half-length truncation") {
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 29 === 0 && col("n_chars") >= 80)
      .count()
    val found = SparkEntry.queries("q167_prefix_dupes")(spark, sf)
      .agg(sum(col("n_truncated_docs"))).collect()(0).getLong(0)
    // every planted truncation is ≥ 40 chars, so it blocks with its
    // original on the 32-char head fingerprint and must be found;
    // natural prefix pairs may add to the count
    assert(found >= planted, s"found $found < planted $planted")
  }

  test("q188 truncation cosines are in (0,1] and monotone in prefix width") {
    val rows = SparkEntry.queries("q188_matryoshka_audit")(spark, sf)
      .collect().map(r => r.getAs[Long]("m") ->
        (r.getAs[Double]("avg_cosine"), r.getAs[Double]("min_cosine"))).toMap
    assert(rows.keySet == Set(8L, 16L, 32L))
    rows.values.foreach { case (avg, min) =>
      assert(min > 0.0 && min <= avg && avg <= 1.0 + 1e-12, rows.toString)
    }
    // a longer prefix carries at least as much norm: averages ascend
    assert(rows(8L)._1 <= rows(16L)._1 && rows(16L)._1 <= rows(32L)._1,
      rows.toString)
  }

  test("q195 emits a unit vector aligned with the dominant component") {
    val rows = SparkEntry.queries("q195_power_iteration")(spark, sf)
      .collect()
    assert(rows.length == 64)
    val norm2 = rows.map(r => math.pow(r.getAs[Double]("v_next"), 2)).sum
    // fixed-point flooring costs at most ~1e-9 per dim
    assert(math.abs(norm2 - 1.0) < 1e-6, s"|v|^2 = $norm2")
  }

  test("q197 transitivity stays within its analytic bounds") {
    val r = SparkEntry.queries("q197_triangle_census")(spark, sf)
      .collect().head
    val (e, w, t) = (r.getAs[Long]("n_edges"), r.getAs[Long]("n_wedges"),
      r.getAs[Long]("n_triangles"))
    assert(e >= 0 && w >= 0 && t >= 0)
    // every triangle closes three wedges
    assert(3 * t <= w || w == 0, r.toString)
    if (w > 0)
      assert(r.getAs[Double]("transitivity") >= 0.0 &&
        r.getAs[Double]("transitivity") <= 1.0 + 1e-12)
  }

  test("q199 z-order audit satisfies its block-accounting identities") {
    val r = SparkEntry.queries("q199_zorder_audit")(spark, sf)
      .collect().head
    val (bt, btt) = (r.getAs[Long]("blocks_total"),
      r.getAs[Long]("blocks_touched"))
    val (m, rit) = (r.getAs[Long]("matching_rows"),
      r.getAs[Long]("rows_in_touched"))
    assert(btt <= bt && m <= rit, r.toString)
    assert(m > 0, "the planted 64-day window must match rows")
    assert(r.getAs[Double]("read_amplification") >= 1.0)
  }

  test("q201 peeling is monotone and never drops below the 2-core") {
    val rows = SparkEntry.queries("q201_kcore_peel")(spark, sf)
      .collect().sortBy(_.getAs[Int]("round"))
      .map(r => (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges")))
    assert(rows.length == 4)
    rows.sliding(2).foreach { case Array((n0, e0), (n1, e1)) =>
      assert(n1 <= n0 && e1 <= e0, rows.mkString(";"))
    }
  }

  test("q171 pagerank conserves mass and respects the damping floor") {
    val rows = SparkEntry.queries("q171_pagerank_dup_graph")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val n = rows.length.toDouble
    val mass = rows.map(_.getAs[Double]("pagerank")).sum
    // undirected graph, no dangling nodes: each iteration maps total
    // mass m -> 0.15·n + 0.85·m (modulo 1e-12 fixed-point flooring),
    // so from m0 = n the total stays n
    assert(math.abs(mass - n) / n < 1e-6, s"mass $mass vs n $n")
    rows.foreach { r =>
      assert(r.getAs[Double]("pagerank") >= 0.15 - 1e-9,
        s"rank below damping floor: $r")
      assert(r.getAs[Long]("degree") >= 1L, r.toString)
    }
  }

  test("q176 diversity indices respect their analytic bounds") {
    SparkEntry.queries("q176_token_diversity")(spark, sf)
      .collect().foreach { r =>
        val simpson = r.getAs[Double]("simpson")
        val inv = r.getAs[Double]("inv_simpson")
        val types = r.getAs[Long]("n_types").toDouble
        // λ ∈ (0,1]; effective vocab ∈ [1, n_types]
        assert(simpson > 0.0 && simpson <= 1.0, r.toString)
        assert(inv >= 1.0 - 1e-9 && inv <= types + 1e-9, r.toString)
        assert(math.abs(r.getAs[Double]("gini_simpson")
          - (1.0 - simpson)) < 1e-15, r.toString)
      }
  }

  test("q179 KS statistic is a valid distance in [0,1]") {
    val rows = SparkEntry.queries("q179_ks_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Double]("d_stat")
      assert(d >= 0.0 && d <= 1.0, r.toString)
    }
    // at least one source must diverge from the pooled distribution
    assert(rows.exists(_.getAs[Double]("d_stat") > 0.0))
  }

  test("q183 chi-squared is non-negative and grid-complete") {
    val nLangs = Tables.documents(spark, sf)
      .select(col("lang")).distinct().count()
    val rows = SparkEntry.queries("q183_chi2_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("chi2") >= 0.0, r.toString)
      // every source's grid must span ALL corpus languages (missing
      // cells contribute expectation mass — dropping them understates)
      assert(r.getAs[Long]("n_cells") == nLangs, r.toString)
    }
    assert(rows.exists(_.getAs[Double]("chi2") > 0.0))
  }

  test("q01 pricing summary has the 6 flag/status groups") {
    val rows = SparkEntry.queries("q01_agg_pricing")(spark, sf).collect()
    assert(rows.length == 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total == Tables.lineitem(spark, sf).count())
  }

  test("q17 grain check: dup rows at least double dup keys") {
    // the synthetic lineitem deliberately contains duplicate
    // (orderkey, linenumber) keys — the audit must surface them
    val r = SparkEntry.queries("q17_grain_check")(spark, sf).collect()(0)
    val keys = r.getAs[Long]("n_dup_keys")
    val rows = r.getAs[Long]("n_dup_rows")
    assert(keys > 0 && rows >= 2 * keys)
  }

  test("q07 pivot columns are the fixed domain") {
    val df = SparkEntry.queries("q07_pivot_fixed")(spark, sf)
    assert(df.columns.toSeq == Seq("l_linestatus", "A", "N", "R"))
  }

  test("q112 BPE merge candidates are single-char pairs, ranked by freq") {
    val rows = SparkEntry.queries("q112_bpe_merges")(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 10L))
    rows.foreach { r =>
      val p = r.getAs[String]("pair").split(" ")
      assert(p.length == 2 && p.forall(_.length == 1), s"bad pair: $r")
    }
    val byRank = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("freq"))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
  }

  test("q113 PQ codes are in range and codebook vectors encode losslessly") {
    val rows = SparkEntry.queries("q113_pq_encode")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      (0 until 8).foreach { i =>
        val c = r.getAs[Int](s"c$i"); assert(c >= 0 && c < 16)
      }
      assert(r.getAs[Double]("err") >= 0.0)
    }
    // a codebook vector's nearest entry in every subspace is itself
    rows.filter(_.getAs[Long]("vec_id") < 16)
      .foreach(r => assert(r.getAs[Double]("err") == 0.0))
  }

  test("q114 packed sequences respect the token budget plus boundary spill") {
    val rows = SparkEntry.queries("q114_pack_sequences")(spark, sf).collect()
    // start-offset binning: a sequence holds < budget + one chunk
    rows.foreach(r => assert(r.getAs[Long]("n_tokens") < 512 + 50))
    val langs = rows.map(_.getAs[String]("lang")).distinct
    langs.foreach { l =>
      val ids = rows.filter(_.getAs[String]("lang") == l)
        .map(_.getAs[Long]("seq_id")).sorted
      assert(ids.head == 0L, s"$l does not start at sequence 0")
      assert(ids.zip(ids.tail).forall { case (a, b) => b == a + 1 },
        s"$l has sequence gaps")
    }
  }

  test("q115 Zipf census invariants: hapax <= vocab, coverage <= 100") {
    val rows = SparkEntry.queries("q115_zipf_census")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hapax") <= r.getAs[Long]("vocab_size"))
      assert(r.getAs[Long]("top100_tokens") <= r.getAs[Long]("total_tokens"))
      val cov = r.getAs[Double]("top100_coverage_pct")
      assert(cov > 0.0 && cov <= 100.0)
    }
  }

  test("q116 quality sampling keeps a subset tracking the expected rate") {
    val rows = SparkEntry.queries("q116_quality_sample")(spark, sf).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs"); val k = r.getAs[Long]("n_kept")
      assert(k >= 0 && k <= n)
      val exp = r.getAs[Double]("expected_pct")
      assert(exp >= 0.0 && exp <= 100.0)
      // quality is bounded by 1 → threshold <= 10000 basis points
      assert(r.getAs[Long]("expected_bp") <= 10000L * n)
    }
  }

  test("q117 IVF-PQ search audits recall for every probe query") {
    val rows = SparkEntry.queries("q117_ivfpq_search")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_candidates") > 0)
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 10)
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(rec == hits / 10.0)
    }
  }

  test("q118 boilerplate census covers every doc with a bounded fraction") {
    val rows = SparkEntry.queries("q118_boilerplate")(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val f = r.getAs[Double]("boiler_frac")
      assert(f >= 0.0 && f <= 1.0)
      assert(r.getAs[Long]("n_boiler") <= r.getAs[Long]("n_shingles"))
      assert(Set(0L, 1L)(r.getAs[Long]("keep")))
    }
  }

  test("q119 rarity score is a bounded per-doc mean of 1/df") {
    val rows = SparkEntry.queries("q119_rarity_score")(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val n = r.getAs[Long]("n_terms")
      val rar = r.getAs[Double]("rarity")
      // each 1/df is in (0, 1] → the mean is too
      assert(n > 0 && rar > 0.0 && rar <= 1.0, s"bad row: $r")
    }
  }

  test("q121 every cluster elects exactly one member as survivor") {
    val rows = SparkEntry.queries("q121_survivor_election")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      val survivors = members.filter(_.getAs[Long]("is_survivor") == 1L)
      assert(survivors.length == 1, s"cluster $cid: ${survivors.length}")
      val canon = members.map(_.getAs[Long]("canonical_id")).distinct
      assert(canon.length == 1 &&
        members.exists(_.getAs[Long]("doc_id") == canon.head))
      // the survivor carries the cluster-max quality
      val best = members.map(_.getAs[Double]("quality")).max
      assert(survivors.head.getAs[Double]("quality") == best)
      assert(members.forall(_.getAs[Long]("cluster_size") == members.length))
    }
  }

  test("q122 chunk dedup census is consistent with q99's chunk counts") {
    val rows = SparkEntry.queries("q122_chunk_dedup")(spark, sf).collect()
    val totalChunks = rows.map(_.getAs[Long]("n_chunks")).sum
    assert(totalChunks ==
      SparkEntry.queries("q99_chunk_docs")(spark, sf).count())
    rows.foreach { r =>
      val (n, dup) = (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup_chunks"))
      val frac = r.getAs[Double]("dup_frac")
      assert(dup <= n && frac >= 0.0 && frac <= 1.0, s"bad row: $r")
    }
  }

  test("q123 contamination matrix accounts for every q58 pair once") {
    val rows = SparkEntry.queries("q123_source_contamination")(spark, sf)
      .collect()
    val nPairs = rows.map(_.getAs[Long]("n_pairs")).sum
    assert(nPairs == SparkEntry.queries("q58_jaccard_pairs")(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[String]("source_lo") <= r.getAs[String]("source_hi"))
      val mj = r.getAs[Double]("mean_jaccard")
      // q58's verify threshold bounds every pair's jaccard below by 0.5
      assert(mj >= 0.5 && mj <= 1.0, s"bad row: $r")
    }
  }

  test("q124 outlier flags agree with the 4x-mean ratio rule") {
    val rows = SparkEntry.queries("q124_embed_outliers")(spark, sf).collect()
    assert(rows.length == Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val (ratio, flag) = (r.getAs[Double]("ratio"), r.getAs[Long]("is_outlier"))
      assert(flag == (if (ratio > 4.0) 1L else 0L), s"bad row: $r")
      assert(r.getAs[Double]("d2") >= 0.0)
    }
    // per label, mean of d2/mean_d2 is 1 by construction
    rows.groupBy(_.getAs[Int]("label")).foreach { case (_, g) =>
      val m = g.map(_.getAs[Double]("ratio")).sum / g.length
      assert(math.abs(m - 1.0) < 1e-9)
    }
  }

  test("q125 token budget selects a strict greedy prefix") {
    val rows = SparkEntry.queries("q125_token_budget")(spark, sf).collect()
    assert(rows.nonEmpty &&
      rows.length < Tables.documents(spark, sf).count())
    val maxCum = rows.map(_.getAs[Long]("cum_tokens")).max
    assert(maxCum <= 15000L)
    // a greedy prefix's token sum IS its final cumulative value
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == maxCum)
    assert(rows.map(_.getAs[Long]("cum_tokens")).distinct.length == rows.length)
  }

  test("q126 triplets have consistent ids and non-negative margin") {
    val rows = SparkEntry.queries("q126_contrastive_triplets")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, p, n) = (r.getAs[Long]("anchor_id"),
        r.getAs[Long]("pos_id"), r.getAs[Long]("neg_id"))
      assert(a != p && a != n && p != n, s"bad ids: $r")
      val margin = r.getAs[Double]("margin")
      assert(margin >= 0.0 &&
        margin == r.getAs[Double]("pos_cos") - r.getAs[Double]("neg_cos"))
    }
  }

  test("q128 profiler stats are internally consistent") {
    val nRows = Tables.lineitem(spark, sf).count()
    val rows = SparkEntry.queries("q128_table_profile")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (nulls, dist) = (r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct"))
      assert(nulls >= 0 && nulls <= nRows && dist <= nRows, s"bad row: $r")
      if (!r.isNullAt(3))
        assert(r.getAs[Double]("min_num") <= r.getAs[Double]("max_num"))
    }
    val flag = rows.find(_.getAs[String]("column_name") == "l_returnflag").get
    assert(flag.getAs[Long]("n_distinct") == 3 && flag.isNullAt(3))
  }

  test("q129 winsorization clips into [p01, p99] and only when outside") {
    val rows = SparkEntry.queries("q129_winsorize")(spark, sf).collect()
    assert(rows.length == Tables.events(spark, sf).count())
    val clipped = rows.count(_.getAs[Long]("clipped") == 1L)
    // ~2% of rows sit outside [P01, P99] by construction
    assert(clipped > 0 && clipped < rows.length / 10)
    rows.foreach { r =>
      val (c, w) = (r.getAs[Long]("cents"), r.getAs[Long]("cents_w"))
      assert((r.getAs[Long]("clipped") == 1L) == (c != w), s"bad: $r")
    }
  }

  test("q130 sequences have one token per session event") {
    val rows = SparkEntry.queries("q130_session_seq")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_events")
      assert(r.getAs[String]("seq").split(" ").length.toLong == n, s"bad: $r")
    }
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == Tables.events(spark, sf).count())
  }

  test("q131 activity metrics: wau >= dau, stickiness in (0, 1]") {
    val rows = SparkEntry.queries("q131_rolling_active")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, wau) = (r.getAs[Long]("dau"), r.getAs[Long]("wau"))
      val st = r.getAs[Double]("stickiness")
      assert(wau >= dau && st > 0.0 && st <= 1.0, s"bad: $r")
    }
  }

  test("q132 CDC apply: deletes gone, inserts present, updates win") {
    val rows = SparkEntry.queries("q132_cdc_apply")(spark, sf).collect()
    val byKey = rows.map(r => r.getAs[Long]("o_orderkey") -> r).toMap
    assert(byKey.keySet.forall(_ % 7 != 0), "a deleted key survived")
    assert(byKey.keySet.exists(k => k % 3 == 0), "no insert landed")
    rows.foreach { r =>
      val k = r.getAs[Long]("o_orderkey")
      val expected =
        if (k % 3 == 0) "I" else if (k % 5 == 0) "U" else "S"
      assert(r.getAs[String]("last_op") == expected, s"bad op: $r")
    }
    // every surviving key is accounted for: snapshot minus deletes
    // plus inserts minus deleted inserts
    val o = Tables.orders(spark, sf).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    val want = o.filter(k => k % 7 != 0)
    assert(byKey.keySet == want)
  }

  test("q133 cube levels are mutually consistent") {
    val rows = SparkEntry.queries("q133_cube_mart")(spark, sf).collect()
    def level(g: Long) = rows.filter(_.getAs[Long]("gid") == g)
    val total = level(3L)
    assert(total.length == 1)
    val n = total.head.getAs[Long]("n_events")
    // every partial level re-sums to the grand total
    assert(level(0L).map(_.getAs[Long]("n_events")).sum == n)
    assert(level(1L).map(_.getAs[Long]("n_events")).sum == n)
    assert(level(2L).map(_.getAs[Long]("n_events")).sum == n)
    assert(n == Tables.events(spark, sf).count())
    val cents = total.head.getAs[Long]("cents")
    assert(level(0L).map(_.getAs[Long]("cents")).sum == cents)
  }

  test("q134 fluency is a bounded mean of conditional probabilities") {
    val rows = SparkEntry.queries("q134_bigram_fluency")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val f = r.getAs[Double]("fluency")
      assert(f > 0.0 && f <= 1.0, s"bad: $r")
      // a doc with t tokens has t-1 bigrams
      assert(r.getAs[Long]("n_bigrams") > 0)
    }
  }

  test("q135 skew diagnostic is internally consistent") {
    val r = SparkEntry.queries("q135_skew_diagnostic")(spark, sf)
      .collect().head
    val (keys, rows) = (r.getAs[Long]("n_keys"), r.getAs[Long]("n_rows"))
    assert(rows == Tables.lineitem(spark, sf).count())
    val (mx, p99) = (r.getAs[Long]("max_rows_per_key"),
      r.getAs[Long]("p99_rows_per_key"))
    assert(mx >= p99 && p99 >= 1 && keys <= rows)
    assert(r.getAs[Double]("skew_ratio") >= 1.0)
  }

  test("q137 co-occurrence pairs are ordered and counts bounded") {
    val rows = SparkEntry.queries("q137_type_cooccurrence")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val sessions = SparkEntry.queries("q130_session_seq")(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[String]("type_a") < r.getAs[String]("type_b"))
      assert(r.getAs[Long]("n_both") <= sessions)
      assert(r.getAs[Double]("lift") > 0.0)
    }
  }

  test("q138 retention triangle: offset 0 retains the whole cohort") {
    val rows = SparkEntry.queries("q138_retention_triangle")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (size, active) = (r.getAs[Long]("cohort_size"),
        r.getAs[Long]("n_active"))
      assert(active <= size && r.getAs[Long]("week_offset") >= 0)
      if (r.getAs[Long]("week_offset") == 0L)
        assert(active == size, s"cohort week must be fully active: $r")
    }
  }

  test("q139 backlog sweep: running sum ends at zero and never dips") {
    val rows = SparkEntry.queries("q139_backlog_sweep")(spark, sf)
      .collect().sortBy(_.getAs[String]("day"))
    assert(rows.nonEmpty)
    assert(rows.last.getAs[Long]("backlog") == 0L,
      "every placed order eventually ships")
    assert(rows.map(_.getAs[Long]("net")).sum == 0L)
    rows.foreach(r => assert(r.getAs[Long]("backlog") >= 0L, s"bad: $r"))
  }

  test("q140 FK audit rows cover the chain with sane counts") {
    val rows = SparkEntry.queries("q140_fk_audit")(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_orphans") <= r.getAs[Long]("n_rows"))
    }
    val li = rows.find(_.getAs[String]("fk") == "lineitem->orders").get
    assert(li.getAs[Long]("n_rows") == Tables.lineitem(spark, sf).count())
  }

  test("q141 incremental merge equals the full recompute") {
    val inc = SparkEntry.queries("q141_incremental_mart")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("cents"))).toMap
    val full = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).cast("string").as("day"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(28,2)")) * 100).cast("long")
          .as("cents"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("cents"))).toMap
    assert(inc == full)
  }

  test("q142 growth accounting reconciles to its identities") {
    val rows = SparkEntry.queries("q142_growth_accounting")(spark, sf)
      .collect().sortBy(_.getAs[String]("week"))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_active") ==
        r.getAs[Long]("n_new") + r.getAs[Long]("n_retained") +
          r.getAs[Long]("n_resurrected"), s"identity broken: $r")
      assert(r.getAs[Long]("n_churned") >= 0L, s"negative churn: $r")
    }
    // consecutive weeks: churned(w) = active(w-1) - retained(w)
    rows.sliding(2).foreach {
      case Array(a, b)
        if java.time.LocalDate.parse(a.getAs[String]("week"))
          .plusDays(7).toString == b.getAs[String]("week") =>
        assert(b.getAs[Long]("n_churned") ==
          a.getAs[Long]("n_active") - b.getAs[Long]("n_retained"))
      case _ => ()
    }
  }

  test("q143 degree histogram mass equals the docs appearing in pairs") {
    val rows = SparkEntry.queries("q143_dup_degree")(spark, sf).collect()
    assert(rows.nonEmpty)
    val massFromHist = rows
      .map(r => r.getAs[Long]("degree") * r.getAs[Long]("n_docs")).sum
    // sum(degree * n_docs) counts each pair twice
    val pairs = SparkEntry.queries("q60_simhash_pairs")(spark, sf).count()
    assert(massFromHist == 2 * pairs)
  }

  test("q144 conversion quantiles are ordered and bounded") {
    val r = SparkEntry.queries("q144_time_to_convert")(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n_conversions") > 0)
    val (p50, p90, mx) = (r.getAs[Long]("p50_minutes"),
      r.getAs[Long]("p90_minutes"), r.getAs[Long]("max_minutes"))
    assert(p50 >= 0 && p50 <= p90 && p90 <= mx)
  }

  test("q145 calibration buckets cover the corpus exactly once") {
    val rows = SparkEntry.queries("q145_quality_dup_calibration")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_with_dup") <= r.getAs[Long]("n_docs"))
      val pct = r.getAs[Double]("dup_pct")
      assert(pct >= 0.0 && pct <= 100.0)
    }
  }

  test("q146 MAD flags imply a genuinely large deviation") {
    val rows = SparkEntry.queries("q146_mad_anomaly")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dev = math.abs(r.getAs[Long]("cents") - r.getAs[Long]("med"))
      val expected = if (dev > 5L * r.getAs[Long]("mad")) 1L else 0L
      assert(r.getAs[Long]("is_anomaly") == expected, s"bad: $r")
      assert(r.getAs[Long]("mad") >= 0L)
    }
  }

  test("q147 agreement census accounts for both pair sets exactly") {
    val rows = SparkEntry.queries("q147_method_agreement")(spark, sf)
      .collect().map(r =>
        r.getAs[String]("verdict") -> r.getAs[Long]("n_pairs")).toMap
    val jac = SparkEntry.queries("q58_jaccard_pairs")(spark, sf).count()
    val sim = SparkEntry.queries("q60_simhash_pairs")(spark, sf).count()
    assert(rows.getOrElse("both", 0L) +
      rows.getOrElse("jaccard_only", 0L) == jac)
    assert(rows.getOrElse("both", 0L) +
      rows.getOrElse("simhash_only", 0L) == sim)
  }

  test("q148 nearest-event gaps beat or equal the as-of backward gap") {
    val rows = SparkEntry.queries("q148_nearest_event")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("gap_us") >= 0L)
      assert(Set("backward", "forward")(r.getAs[String]("direction")))
    }
  }

  test("q149 novelty curve: cumulative novel equals distinct content") {
    val rows = SparkEntry.queries("q149_novelty_curve")(spark, sf)
      .collect().sortBy(_.getAs[Long]("batch"))
    assert(rows.nonEmpty)
    val last = rows.last
    assert(last.getAs[Long]("cum_docs") ==
      Tables.documents(spark, sf).count())
    val distinctTexts = Tables.documents(spark, sf)
      .select("text").distinct().count()
    assert(last.getAs[Long]("cum_novel") == distinctTexts)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_docs"))
    }
  }

  test("q150 fulfillment latency quantiles are ordered per priority") {
    val rows = SparkEntry.queries("q150_fulfillment_latency")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_orders")).sum
    assert(total == Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"), "left_semi").count())
    rows.foreach { r =>
      assert(r.getAs[Long]("p50_days") <= r.getAs[Long]("p90_days") &&
        r.getAs[Long]("p90_days") <= r.getAs[Long]("max_days"))
    }
  }

  test("q151 rank shift: ranks are permutations and deltas net to zero") {
    val rows = SparkEntry.queries("q151_rank_shift")(spark, sf).collect()
    val n = rows.length
    assert(rows.map(_.getAs[Long]("rank_1996")).sorted.toSeq ==
      (1L to n).toSeq)
    assert(rows.map(_.getAs[Long]("rank_1997")).sorted.toSeq ==
      (1L to n).toSeq)
    assert(rows.map(_.getAs[Long]("rank_delta")).sum == 0L)
  }

  test("q152 hierarchical shares sum to 1 per region and globally") {
    val rows = SparkEntry.queries("q152_hier_share")(spark, sf).collect()
    rows.groupBy(_.getAs[String]("r_name")).foreach { case (_, g) =>
      val s = g.map(_.getAs[Double]("share_of_region")).sum
      assert(math.abs(s - 1.0) < 1e-9)
    }
    assert(math.abs(
      rows.map(_.getAs[Double]("share_of_world")).sum - 1.0) < 1e-9)
  }

  test("q153 Pareto deciles: top decile carries the largest share") {
    val rows = SparkEntry.queries("q153_pareto_deciles")(spark, sf)
      .collect().sortBy(_.getAs[Long]("decile"))
    assert(rows.length == 10)
    val shares = rows.map(_.getAs[Double]("revenue_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-9)
    // ranked desc → decile 0 has the largest share, monotone down
    assert(shares.zip(shares.tail).forall { case (a, b) => a >= b })
    assert(rows.map(_.getAs[Long]("n_customers")).sum ==
      Tables.orders(spark, sf).select("o_custkey").distinct().count())
  }

  test("q154 correlations are in [-1, 1] and cover every language") {
    val rows = SparkEntry.queries("q154_corr_audit")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf).count())
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("corr"))) {
        val c = r.getAs[Double]("corr")
        assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12, s"bad: $r")
      }
    }
    // q51's quality includes a length term → expect a positive link
    assert(rows.exists(r => !r.isNullAt(r.fieldIndex("corr")) &&
      r.getAs[Double]("corr") > 0.0))
  }

  test("ilog256 piecewise-linear log2 stays within 0.0901 bits of log2") {
    // exact at powers of two, worst between them; q241's weights ride
    // this bound (doc'd as ~0.086 bits/token). The chord bound is
    // 1 - (1 + ln(ln 2)) / ln 2 ~ 0.08607 bits; flooring to 1/256
    // fixed-point adds up to 1/256 ~ 0.0039 more underestimation.
    val xs = (1L to 4096L) ++
      Seq(1L << 20, (1L << 20) + 12345L, 1L << 40, (1L << 44) + 7L)
    val df = spark.createDataFrame(
      xs.map(Tuple1(_))).toDF("x")
    val got = df.selectExpr("x",
      graft.ops.CorpusOps.ilog256("x") + " AS il").collect()
    got.foreach { r =>
      val x = r.getLong(0); val il = r.getLong(1)
      // the chord of a concave curve sits BELOW it: the interpolation
      // only ever underestimates log2, by at most ~0.0861 + 1/256 bits
      val err = il / 256.0 - math.log(x.toDouble) / math.log(2.0)
      assert(err > -0.0901 && err < 0.005,
        s"x=$x ilog=$il err=$err")
      if ((x & (x - 1)) == 0) // power of two → exact
        assert(err.abs < 1e-9, s"x=$x not exact: $err")
    }
  }

  test("q245 deep BPE trainer's first three merges equal q223's table") {
    val deep = SparkEntry.queries("q245_bpe_deep_train")(spark, sf)
      .filter(col("round") <= 3)
      .collect().map(r => (r.getAs[Long]("round"),
        r.getAs[String]("merged"), r.getAs[Long]("n"))).toSet
    val three = SparkEntry.queries("q223_bpe_train3")(spark, sf)
      .collect().map(r => (r.getAs[Long]("round"),
        r.getAs[String]("merged"), r.getAs[Long]("n"))).toSet
    assert(deep == three)
    // and the deep rounds keep making progress: 10 distinct merges
    val all = SparkEntry.queries("q245_bpe_deep_train")(spark, sf)
      .collect()
    assert(all.length == 10)
    assert(all.map(_.getAs[String]("merged")).distinct.length == 10)
  }

  test("q263 convergence loop emits exactly q245's running-min prefix " +
    "and stops early at sf0.001") {
    val deep = SparkEntry.queries("q245_bpe_deep_train")(spark, sf)
      .collect().sortBy(_.getAs[Long]("round"))
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("merged"),
        r.getAs[Long]("n")))
    // independent prefix computation from q245's fixed-round table
    val want = deep.takeWhile(_._3 >= 2000L)
    val got = SparkEntry.queries("q263_bpe_converged_train")(spark, sf)
      .collect().sortBy(_.getAs[Long]("round"))
      .map(r => (r.getAs[Long]("round"), r.getAs[String]("merged"),
        r.getAs[Long]("n")))
    assert(got.toSeq == want.toSeq,
      s"converged ${got.toSeq} != prefix ${want.toSeq}")
    // the threshold must actually bind at this SF (round-6 peak ~1.9k)
    assert(got.nonEmpty && got.length < 10,
      s"early stop not exercised: ${got.length} rounds")
    got.foreach { case (_, _, n) => assert(n >= 2000L) }
  }

  test("q250 perplexity gate: dense per-lang ranks, ntile-balanced " +
    "tertiles, kept = head+middle, score-ordered") {
    val rows = SparkEntry.queries("q250_ppl_gate")(spark, sf).collect()
    // covers exactly q240's scored population (no trigram → no row)
    assert(rows.length ==
      SparkEntry.queries("q240_backoff_lm")(spark, sf).count())
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val n = rs.length
      // two-level rank refinement produced a dense 1..n per language
      assert(rs.map(_.getAs[Long]("lang_rank")).sorted.toSeq ==
        (1L to n).toSeq, s"$lang ranks not dense")
      val byT = rs.groupBy(_.getAs[String]("tertile"))
        .map { case (t, g) => t -> g.length }.withDefaultValue(0)
      // ntile arithmetic: sizes differ by at most 1, head fills first
      assert(byT("head") + byT("middle") + byT("tail") == n)
      assert(byT("head") >= byT("middle") &&
        byT("middle") >= byT("tail") && byT("head") - byT("tail") <= 1,
        s"$lang tertile sizes $byT")
      // the gate keeps head+middle and only them
      rs.foreach(r => assert(r.getAs[Boolean]("kept") ==
        (r.getAs[String]("tertile") != "tail")))
      // ordering: every head score >= every tail score
      val heads = rs.filter(_.getAs[String]("tertile") == "head")
        .map(_.getAs[Long]("score_fp_mean"))
      val tails = rs.filter(_.getAs[String]("tertile") == "tail")
        .map(_.getAs[Long]("score_fp_mean"))
      if (heads.nonEmpty && tails.nonEmpty)
        assert(heads.min >= tails.max, s"$lang head/tail inversion")
    }
  }

  test("q251 source drift: TVD in [0,1], token mass conserved, " +
    "distributions genuinely differ") {
    val rows = SparkEntry.queries("q251_source_drift")(spark, sf)
      .collect()
    val totalTokens = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " "))).count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == totalTokens)
    rows.foreach { r =>
      val tvd = r.getAs[Double]("tvd")
      assert(tvd >= 0.0 && tvd <= 1.0, s"bad tvd: $r")
    }
    // synthetic sources are not identically distributed
    assert(rows.exists(_.getAs[Double]("tvd") > 0.0))
    // brute-force double TVD for one source agrees to float tolerance
    val src = rows.minBy(_.getAs[Long]("n_tokens"))
      .getAs[String]("source")
    val occ = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
    val cs = occ.filter(col("source") === src).groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cAll = occ.groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ts = cs.values.sum.toDouble
    val tAll = cAll.values.sum.toDouble
    val brute = 0.5 * cAll.keys.map(w =>
      math.abs(cs.getOrElse(w, 0L) / ts - cAll(w) / tAll)).sum
    val got = rows.find(_.getAs[String]("source") == src).get
      .getAs[Double]("tvd")
    assert(math.abs(got - brute) < 1e-9, s"$got vs brute $brute")
  }

  test("q252 Heaps fit: sublinear beta, matches brute-force OLS on " +
    "the exact fixed-point curve") {
    val row = SparkEntry.queries("q252_heaps_fit")(spark, sf)
      .collect().head
    // brute force: replay the trigram curve and the ilog256 OLS
    // driver-side from the raw table
    val toks = Tables.documents(spark, sf)
      .select(expr("doc_id div 100").as("b"), split(col("text"), " ")
        .as("w"))
      .collect().flatMap { r =>
        val b = r.getAs[Long]("b")
        val w = r.getSeq[String](1)
        w.sliding(3).filter(_.length == 3)
          .map(g => (b, g.mkString(" ")))
      }
    val batches = toks.map(_._1).distinct.sorted
    assert(row.getAs[Long]("n_batches") == batches.length)
    val firstB = toks.groupBy(_._2).map { case (_, os) =>
      os.map(_._1).min }
    def il(x: Long): Long = {
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(x)
      msb * 256L + (x * 256L >> msb) - 256L
    }
    var (ct, cv) = (0L, 0L)
    val pts = batches.map { b =>
      ct += toks.count(_._1 == b)
      cv += firstB.count(_ == b)
      (il(ct), il(cv))
    }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum.toDouble
    val sy = pts.map(_._2).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(row.getAs[Double]("beta") - beta) < 1e-12,
      s"engine ${row.getAs[Double]("beta")} vs brute $beta")
    // vocabulary growth is real but sublinear on natural-ish text
    assert(beta > 0.0 && beta < 1.0, s"beta out of range: $beta")
    // and the fitted intercept reproduces the final vocab to within
    // the chord bias: |log2 V_hat - log2 V| small at the last point
    val lk = row.getAs[Double]("log2_k")
    val (xl, yl) = pts.last
    val pred = lk + beta * (xl / 256.0)
    assert(math.abs(pred - yl / 256.0) < 0.5,
      s"fit off at the endpoint: pred $pred vs ${yl / 256.0}")
  }

  test("q253 dedup-scope identities hold and mirror sources lose " +
    "every local survivor to global scope") {
    val rows = SparkEntry.queries("q253_dedup_scope")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, w, ls, gs, lost) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_within_dups"),
        r.getAs[Long]("n_local_survivors"),
        r.getAs[Long]("n_global_survivors"),
        r.getAs[Long]("n_lost_to_global"))
      assert(w + ls == n, s"partition identity broke: $r")
      // a global survivor is necessarily its source's local survivor
      assert(lost == ls - gs, s"loss identity broke: $r")
      if (r.getAs[String]("source").startsWith("mirror_"))
        // every mirror fingerprint exists in the original source with
        // a smaller doc_id, so global election kills ALL of them
        assert(gs == 0L && lost == ls, s"mirror source kept docs: $r")
    }
    assert(rows.exists(_.getAs[Long]("n_within_dups") > 0),
      "planted within-source replays missing")
  }

  test("q254 pHash finds every planted perturbed replay at Hamming " +
    "<= 1 and caps verified distance") {
    val rows = SparkEntry.queries("q254_phash_dedup")(spark, sf)
      .collect()
    val got = rows.map(r => (r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b"), r.getAs[Long]("hamming")))
    got.foreach { case (a, b, h) =>
      assert(a < b && h >= 0L && h <= 6L, s"bad pair ($a,$b,$h)")
    }
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 9 === 0 && length(col("text")) >= 2)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    planted.foreach { id =>
      val hit = got.find(p => p._1 == id && p._2 == id + (10L << 40))
      assert(hit.isDefined, s"planted pair for $id missing")
      // the edit rewrites an equal-valued sample prefix -> at most
      // the one prefix-boundary gradient bit flips
      assert(hit.get._3 <= 1L, s"planted pair too far: ${hit.get}")
    }
  }

  test("q255 cross-lang census carries the planted relabeled " +
    "replays as cross-lang near-dup mass") {
    val rows = SparkEntry.queries("q255_crosslang_leak")(spark, sf)
      .collect()
    rows.foreach { r =>
      val (lo, hi) = (r.getAs[String]("lang_lo"),
        r.getAs[String]("lang_hi"))
      assert(lo <= hi)
      assert(r.getAs[Long]("cross_lang") == (if (lo == hi) 0L else 1L))
      val mj = r.getAs[Double]("mean_jaccard")
      assert(mj > 0.0 && mj <= 1.0, s"mean J out of range: $r")
    }
    // planted pairs: (lang, lang_x) rows must exist and be cross-lang
    assert(rows.exists(r => r.getAs[Long]("cross_lang") == 1L &&
      r.getAs[String]("lang_hi").endsWith("_x")),
      "planted relabeled replays missing from the census")
  }

  test("q256 burstiness head is rank-complete, cf-monotone, and " +
    ">= 1 everywhere") {
    val rows = SparkEntry.queries("q256_burstiness")(spark, sf)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(rows.nonEmpty && rows.length <= 256)
    assert(rows.map(_.getAs[Long]("rank")).toSeq ==
      (1L to rows.length).toSeq, "rank gaps in the head")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("cf") >= b.getAs[Long]("cf"))
      case _ =>
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("df") <= r.getAs[Long]("cf"))
      assert(r.getAs[Double]("burstiness") >= 1.0)
    }
  }

  test("q257 funnel is monotone, raw share is exactly 1, and the " +
    "planted replays die at the dedup stage") {
    val rows = SparkEntry.queries("q257_curation_funnel")(spark, sf)
      .collect().map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("token_share"))).toMap
    val order = Seq("raw", "exact_dedup", "quality", "lm_gate", "dsir")
    assert(rows.keySet == order.toSet)
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(a)._1 >= rows(b)._1, s"$a -> $b docs grew")
      assert(rows(a)._2 >= rows(b)._2, s"$a -> $b tokens grew")
      assert(rows(a)._3 >= rows(b)._3, s"$a -> $b share grew")
    }
    assert(rows("raw")._3 == 1.0)
    // the mod-6 replays are exact dups: dedup must strictly shrink
    assert(rows("exact_dedup")._1 < rows("raw")._1)
    // survivors = distinct fingerprints of the RAW corpus exactly
    // (replays copy text verbatim, so they add no new fingerprint;
    // natural exact dups collapse on both sides of the equality)
    val nFp = Tables.documents(spark, sf)
      .select(graft.ops.TextOps.fingerprintCol.as("fp"))
      .agg(org.apache.spark.sql.functions.countDistinct("fp"))
      .head.getLong(0)
    assert(rows("exact_dedup")._1 == nFp,
      s"dedup survivors ${rows("exact_dedup")._1} != distinct raw fingerprints $nFp")
  }

  test("q258 per-dimension variance matches a brute recompute and " +
    "shares sum to one") {
    val rows = SparkEntry.queries("q258_dim_collapse")(spark, sf)
      .collect()
    assert(rows.length == 64)
    rows.foreach(r => assert(r.getAs[Double]("variance") >= 0.0))
    val shareSum = rows.map(_.getAs[Double]("var_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"shares sum to $shareSum")
    // brute-force dimension 0 from the raw table
    val v0 = Tables.embeddings(spark, sf)
      .select(expr("CAST(embedding[0] AS DOUBLE)").as("v"))
      .collect().map(_.getDouble(0))
    val mean = v0.sum / v0.length
    val variance = v0.map(x => x * x).sum / v0.length - mean * mean
    val got = rows.find(_.getAs[Long]("pos") == 0L).get
    assert(math.abs(got.getAs[Double]("mean") - mean) < 1e-9)
    assert(math.abs(got.getAs[Double]("variance") - variance) < 1e-9)
  }

  test("q259 cluster densities are connected-graph-consistent and " +
    "completeness matches density 1") {
    val rows = SparkEntry.queries("q259_cluster_density")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_members")
      val e = r.getAs[Long]("n_edges")
      val dens = r.getAs[Double]("density")
      assert(n >= 2, s"singleton cluster emitted: $r")
      // a connected component on n nodes has at least n-1 edges and
      // at most C(n,2) distinct verified pairs
      assert(e >= n - 1 && e <= n * (n - 1) / 2, s"edge bounds: $r")
      assert(dens > 0.0 && dens <= 1.0, s"density range: $r")
      assert((r.getAs[Long]("is_complete") == 1L) == (dens == 1.0),
        s"completeness flag disagrees with density: $r")
    }
  }

  test("q260 JL ratios match a driver-side recompute of the sign " +
    "projection") {
    val rows = SparkEntry.queries("q260_jl_audit")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("d2_full") > 0.0)
      val ratio = r.getAs[Double]("ratio")
      assert(ratio >= 0.0 && !ratio.isNaN)
      assert(math.abs(ratio
        - (r.getAs[Double]("d2_proj") / 16.0)
          / r.getAs[Double]("d2_full")) < 1e-12)
    }
    // brute-force the first pair end to end
    val first = rows.minBy(r => (r.getAs[Long]("vec_a"),
      r.getAs[Long]("vec_b")))
    val emb = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(first.getAs[Long]("vec_a"),
        first.getAs[Long]("vec_b")))
      .orderBy("vec_id")
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def proj(v: Array[Double]): Array[Double] =
      Array.tabulate(16) { k =>
        (1 to 64).foldLeft(0.0) { (a, j) =>
          val sign =
            if (((k * 2654435761L + j * 40503L) % 1000000007L) % 2 == 0)
              1.0 else -1.0
          a + sign * v(j - 1)
        }
      }
    val d2f = (0 until 64)
      .map(i => (emb(0)(i) - emb(1)(i)) * (emb(0)(i) - emb(1)(i))).sum
    val (pa, pb) = (proj(emb(0)), proj(emb(1)))
    val d2p = (0 until 16)
      .map(i => (pa(i) - pb(i)) * (pa(i) - pb(i))).sum
    assert(math.abs(first.getAs[Double]("d2_full") - d2f) < 1e-9)
    assert(math.abs(first.getAs[Double]("d2_proj") - d2p) < 1e-9)
  }

  test("q261 length-sorted batching never pads more than arrival " +
    "order on the same corpus") {
    val rows = SparkEntry.queries("q261_padding_waste")(spark, sf)
      .collect().map(r => r.getAs[String]("strategy") -> r).toMap
    val (a, sRow) = (rows("arrival"), rows("length_sorted"))
    assert(a.getAs[Long]("total_tokens")
      == sRow.getAs[Long]("total_tokens"), "token mass differs")
    assert(sRow.getAs[Long]("total_padding")
      <= a.getAs[Long]("total_padding"), "sorting made padding worse")
    Seq(a, sRow).foreach { r =>
      val (p, t) = (r.getAs[Long]("total_padding"),
        r.getAs[Long]("total_tokens"))
      assert(p >= 0L)
      assert(math.abs(r.getAs[Double]("padding_share")
        - p.toDouble / (t + p).toDouble) < 1e-12)
    }
  }

  test("q262 manifest shards partition each split's mass and the " +
    "snake draft deals doc counts within one") {
    val rows = SparkEntry.queries("q262_release_manifest")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sh = r.getAs[Long]("shard")
      assert(sh >= 0L && sh < 8L)
      assert(r.getAs[Long]("n_docs") >= 1L)
    }
    rows.groupBy(_.getAs[String]("split")).foreach { case (sp, rs) =>
      // balances are shares of the split's ideal: they sum to the
      // shard count over the shards that exist
      val bSum = rs.map(_.getAs[Double]("balance")).sum
      assert(math.abs(bSum - 8.0) < 1e-9, s"$sp balance sum $bSum")
      // the snake draft deals ranks cyclically: per-shard doc counts
      // differ by at most one within a split
      val counts = rs.map(_.getAs[Long]("n_docs"))
      assert(counts.max - counts.min <= 1L,
        s"$sp doc counts skewed: ${counts.mkString(",")}")
    }
  }

  test("q264 NB classifier: confusion partitions every split and the " +
    "train fit beats chance") {
    val rows = SparkEntry.queries("q264_nb_quality_classifier")(spark, sf)
      .collect().map(r => r.getAs[String]("split") -> r).toMap
    assert(rows.keySet == Set("train", "val", "test"))
    rows.values.foreach { r =>
      val (n, tp, tn, fp, fn) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("tp"), r.getAs[Long]("tn"),
        r.getAs[Long]("fp"), r.getAs[Long]("fn"))
      assert(tp + tn + fp + fn == n, s"confusion does not partition: $r")
      assert(tp + fn == r.getAs[Long]("n_label_pos"))
      assert(tp + fp == r.getAs[Long]("n_pred_pos"))
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0)
      assert(math.abs(acc - (tp + tn).toDouble / n.toDouble) < 1e-12)
    }
    // the corpus labels are ~balanced by construction (threshold
    // measured); a fitted NB must beat coin-flip on its own train set
    assert(rows("train").getAs[Double]("accuracy") > 0.55,
      s"train fit too weak: ${rows("train")}")
    val total = rows.values.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sf).count())
  }

  test("q265 DoReMi step: weights renormalize to one and follow the " +
    "excess-loss ordering") {
    val rows = SparkEntry.queries("q265_doremi_reweight")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val wSum = rows.map(_.getAs[Double]("weight_new")).sum
    assert(math.abs(wSum - 1.0) < 1e-9, s"weights sum to $wSum")
    assert(rows.map(_.getAs[Long]("e_bits")).min == 0L,
      "min-shift must zero the smallest exponent")
    rows.foreach { r =>
      assert(r.getAs[Long]("mult") >= 256L, s"chord multiplier < 1: $r")
      assert(r.getAs[Double]("weight_base") > 0.0)
    }
    // among equal-base-share sources, a strictly larger quantized
    // excess must never get a smaller new weight (monotone chord)
    for {
      a <- rows; b <- rows
      if a.getAs[Long]("n_docs") == b.getAs[Long]("n_docs")
      if a.getAs[Long]("e_bits") > b.getAs[Long]("e_bits")
    } assert(a.getAs[Double]("weight_new") >=
      b.getAs[Double]("weight_new"),
      s"weight ordering violates excess ordering: $a vs $b")
  }

  test("q266 LSH sweep: S-curve collision mass is monotone in the " +
    "band split on both sides of the threshold") {
    val rows = SparkEntry.queries("q266_lsh_operating_points")(spark, sf)
      .collect().sortBy(-_.getAs[Int]("bands"))
    assert(rows.length == 5)
    assert(rows.map(r => (r.getAs[Int]("bands"),
      r.getAs[Int]("rows_per_band"))).toSeq ==
      Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)))
    // the pair population is config-independent
    assert(rows.map(_.getAs[Long]("n_above")).distinct.length == 1)
    assert(rows.map(_.getAs[Long]("n_below")).distinct.length == 1)
    // more, shorter bands = a permissive OR = more collision mass for
    // EVERY s in (0,1): recall and FP rate both decrease as r grows
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("exp_recall")
          >= b.getAs[Double]("exp_recall"), s"recall not monotone")
        assert(a.getAs[Double]("exp_fp_rate")
          >= b.getAs[Double]("exp_fp_rate"), s"fp rate not monotone")
      case _ =>
    }
    rows.foreach { r =>
      val (rec, fpr) = (r.getAs[Double]("exp_recall"),
        r.getAs[Double]("exp_fp_rate"))
      assert(rec >= 0.0 && rec <= 1.0 && fpr >= 0.0 && fpr <= 1.0)
      assert(rec > fpr, s"S-curve inverted: $r")
    }
  }

  test("q267 semantic decon: every planted eval replica is flagged at " +
    "0.99 and the threshold lanes nest") {
    val rows = SparkEntry.queries("q267_semantic_decon")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_cont45") >= r.getAs[Long]("n_cont90"))
      assert(r.getAs[Long]("n_cont90") >= r.getAs[Long]("n_cont99"))
      assert(r.getAs[Long]("n_cont45") <= r.getAs[Long]("n_train"))
    }
    val nPlanted = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 30 === 7 && col("vec_id") < 1000)
      .count()
    assert(nPlanted > 0, "plant recipe selected nothing")
    assert(rows.map(_.getAs[Long]("n_cont99")).sum == nPlanted,
      "planted verbatim replicas must be exactly the >=0.99 mass")
  }

  test("q268 calibration curve: buckets bounded, masses partition the " +
    "corpus, and mean evidence sits inside its bucket") {
    val rows = SparkEntry.queries("q268_nb_calibration")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= -8L && b <= 8L, s"bucket out of range: $r")
      val pr = r.getAs[Double]("pos_rate")
      assert(pr >= 0.0 && pr <= 1.0)
      assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n_docs"))
      // interior (unclamped) quarter-bit buckets cover bits/256 in
      // [0.25·b, 0.25·b + 0.25)
      if (b > -8L && b < 8L) {
        val mb = r.getAs[Double]("mean_bits")
        assert(mb >= 0.25 * b && mb < 0.25 * b + 0.25,
          s"mean evidence escapes its bucket: $r")
      }
    }
    assert(rows.map(_.getAs[Long]("bucket")).distinct.length >= 3,
      "curve is degenerate (fewer than 3 evidence buckets)")
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sf).count())
  }

  test("q269 gate agreement: three pairs, kappa bounded and " +
    "sign-consistent with chance") {
    val rows = SparkEntry.queries("q269_gate_agreement")(spark, sf)
      .collect()
    assert(rows.map(r => (r.getAs[String]("gate_a"),
      r.getAs[String]("gate_b"))).toSet ==
      Set(("rule", "nb"), ("rule", "lm"), ("nb", "lm")))
    assert(rows.map(_.getAs[Long]("n")).distinct.length == 1,
      "all pairs census the same doc set")
    rows.foreach { r =>
      val (po, pe) = (r.getAs[Double]("p_obs"), r.getAs[Double]("p_exp"))
      assert(po >= 0.0 && po <= 1.0)
      assert(pe > 0.0 && pe <= 1.0)
      if (!r.isNullAt(r.fieldIndex("kappa"))) {
        val k = r.getAs[Double]("kappa")
        assert(k <= 1.0 + 1e-12, s"kappa above 1: $r")
        assert((k >= 0.0) == (po >= pe),
          s"kappa sign disagrees with chance comparison: $r")
      }
    }
  }

  test("q270 epoch allocation: floor-sum bound, per-row arithmetic, " +
    "and the cap flag definition") {
    val rows = SparkEntry.queries("q270_epoch_allocation")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val budget = rows.head.getAs[Long]("budget")
    assert(rows.forall(_.getAs[Long]("budget") == budget))
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    // floors: the allocation never over-spends and wastes < 1 token
    // per source
    assert(alloc <= budget && alloc > budget - rows.length,
      s"alloc $alloc vs budget $budget")
    rows.foreach { r =>
      val e = r.getAs[Double]("epochs")
      assert(math.abs(r.getAs[Long]("alloc_tokens")
        - math.floor(budget.toDouble * r.getAs[Double]("share_eff")))
        < 0.5, s"alloc arithmetic: $r")
      assert(r.getAs[Boolean]("over_cap") == (e > 4.0), s"cap flag: $r")
      assert(e > 0.0)
    }
  }

  test("q271 shard mixing: both order lanes cover every shard with " +
    "contiguous positions and consistent ratios") {
    val rows = SparkEntry.queries("q271_shard_mixing")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val byLane = rows.groupBy(_.getAs[String]("order_by"))
    assert(byLane.keySet == Set("doc_id", "length"))
    val shardsPerLane = byLane.view.mapValues(_.map(r =>
      (r.getAs[String]("split"), r.getAs[Long]("shard"))).toSet).toMap
    assert(shardsPerLane("doc_id") == shardsPerLane("length"))
    rows.foreach { r =>
      // ranks within a shard are contiguous -> adjacency pairs are
      // exactly n_docs - 1
      assert(r.getAs[Long]("n_pairs") == r.getAs[Long]("n_docs") - 1L,
        s"pair count: $r")
      assert(r.getAs[Long]("n_same") <= r.getAs[Long]("n_pairs"))
      if (!r.isNullAt(r.fieldIndex("mixing_ratio"))) {
        assert(math.abs(r.getAs[Double]("mixing_ratio")
          - r.getAs[Double]("obs_share") / r.getAs[Double]("exp_share"))
          < 1e-12, s"ratio consistency: $r")
      }
    }
  }

  test("q21 parse-money truth table matches expectations in-engine") {
    val got = SparkEntry.queries("q21_parse_money_table")(spark, sf)
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1).contains(1234.56))
    assert(got(2).contains(1234.56))
    assert(got(3).contains(-1234.56))
    assert(got(12).isEmpty)
  }

  test("q275 k-NN clusters partition the near-dup participants, " +
    "carry min-member ids, and refine the epsilon-graph components") {
    val rows = SparkEntry.queries("q275_knn_dup_clusters")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // one row per participant, cluster sizes consistent
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length
      == rows.length)
    byCluster.foreach { case (cid, ms) =>
      assert(ms.forall(_.getAs[Long]("cluster_size") == ms.length))
      assert(ms.map(_.getAs[Long]("doc_id")).min == cid,
        s"cluster id must be the min member, cluster $cid")
      assert(ms.length >= 2, s"singleton cluster emitted: $cid")
    }
    // refinement: knn edges are a subset of the epsilon-graph's, so
    // every k-NN cluster must sit inside ONE epsilon-component
    // (computed here by an independent in-test union-find over the
    // full q64 pair set — small at this SF)
    val pairs = SparkEntry.queries("q64_cosine_neardup")(spark, sf)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) x = parent(x)
      x
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    byCluster.foreach { case (cid, ms) =>
      val comps = ms.map(m => find(m.getAs[Long]("doc_id"))).distinct
      assert(comps.length == 1,
        s"k-NN cluster $cid spans epsilon-components $comps")
    }
  }

  test("q276 union clusters (knn embedding lane) sit in the refinement " +
    "sandwich q275 <= q276 <= q98 and carry consistent signal censuses") {
    val q276 = SparkEntry.queries("q276_union_dup_clusters_knn")(
      spark, sf).collect()
    assert(q276.nonEmpty)
    val byC = q276.groupBy(_.getAs[Long]("cluster_id"))
    assert(q276.map(_.getAs[Long]("doc_id")).distinct.length
      == q276.length)
    byC.foreach { case (cid, ms) =>
      assert(ms.forall(_.getAs[Long]("cluster_size") == ms.length),
        s"cluster_size inconsistent in $cid")
      assert(ms.map(_.getAs[Long]("doc_id")).min == cid,
        s"cluster id must be the min member, cluster $cid")
      val ns = ms.map(_.getAs[Long]("n_signals")).distinct
      assert(ns.length == 1 && ns.head >= 1L && ns.head <= 3L,
        s"n_signals census broken in $cid: $ns")
    }
    // upper bound: q276's edges (sim + jac + knn) are a subset of
    // q98's (sim + jac + epsilon, since knn is epsilon top-3-capped),
    // so every q276 cluster must sit inside ONE q98 cluster
    val q98m = SparkEntry.queries("q98_union_dup_clusters")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    byC.foreach { case (cid, ms) =>
      val cs = ms.map(m => q98m(m.getAs[Long]("doc_id"))).distinct
      assert(cs.length == 1, s"q276 cluster $cid spans q98 clusters $cs")
    }
    // lower bound: q276's edge set contains all of q275's (the knn
    // lane verbatim), so every q275 cluster sits inside ONE q276
    // cluster
    val q276m = q276
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    SparkEntry.queries("q275_knn_dup_clusters")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .groupBy(_._2)
      .foreach { case (cid, ms) =>
        val cs = ms.map(m => q276m(m._1)).distinct
        assert(cs.length == 1,
          s"q275 cluster $cid spans q276 clusters $cs")
      }
    // non-vacuous: some cluster carries multi-kind evidence
    assert(q276.exists(_.getAs[Long]("n_signals") >= 2L))
  }
}
