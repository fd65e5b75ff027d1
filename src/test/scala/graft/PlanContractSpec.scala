package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  ExchangeQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape CONTRACTS for scale-critical queries: these assertions
  * pin the physical properties the 100 TB design depends on, so a
  * future edit that silently loses a pushdown, a broadcast, or the
  * custom operator fails here instead of in production. */
class PlanContractSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestSession.spark

  /** Final (AQE-resolved) plan string of a registered query: runs the
    * frame's OWN QueryExecution (a noop write would run a separate
    * one and leave this plan at `isFinalPlan=false`). */
  private def plan(name: String): String = finalPlan(name).toString

  private def finalPlan(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.toRdd.foreachPartition(_ => ())
    df.queryExecution.executedPlan match {
      case aqe: AdaptiveSparkPlanExec =>
        assert(aqe.isFinalPlan, name)
        aqe.executedPlan
      case static => static
    }
  }

  test("q02: filters reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(!p.contains("PushedFilters: []"), p.take(2000))
  }

  test("q02: the scan reads exactly its six lineitem columns") {
    val scans = finalPlan("q02_filter_project").collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    }
    assert(scans == Seq(Set("l_orderkey", "l_linenumber",
      "l_extendedprice", "l_discount", "l_shipdate", "l_returnflag")),
      scans)
  }

  test("q127: dims broadcast, date filter pushed, no cartesian") {
    val p = plan("q127_star_join")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the orders date range must reach the scan, not a post-filter
    assert(p.contains("o_orderdate"), p.take(2000))
    assert("PushedFilters: \\[[^\\]]*o_orderdate".r
      .findFirstIn(p).isDefined, p.take(3000))
  }

  test("q125: the only single-partition stage is the bucket histogram") {
    // the per-doc cumsum must ride per-bucket windows; exactly one
    // SinglePartition exchange (the <=1001-row histogram) is allowed
    val p = plan("q125_token_budget")
    val single = "Exchange SinglePartition".r.findAllIn(p).length
    assert(single <= 1, s"extra single-partition stages:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q129: quantile cuts broadcast; events are never globally sorted") {
    val p = plan("q129_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("rangepartitioning"), p.take(2000))
  }

  test("q131: the window fanout join is keyed, never a nested loop") {
    val p = plan("q131_rolling_active")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q132: CDC merge is one keyed window, no snapshot-feed join") {
    val p = plan("q132_cdc_apply")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  test("q89: eval shingle set broadcasts; corpus side never shuffles to it") {
    val p = plan("q89_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q97: the custom as-of operator is actually planned") {
    val p = plan("q97_asof_native")
    assert(p.contains("AsOfJoin"), p.take(2000))
  }

  test("q99: chunking is shuffle-free (explode of the chunk index only)") {
    // the only allowed exchange is Tables.t's round-robin fan-out of
    // the single-row-group test file — no keyed shuffle (no groupBy /
    // join / window key ever partitions this plan)
    val p = plan("q99_chunk_docs")
    assert(!p.contains("hashpartitioning"), p.take(2000))
    assert(!p.contains("rangepartitioning"), p.take(2000))
  }

  test("q102: the Lloyd update aggregate is map-side combined") {
    // the re-center explode must partial-aggregate before its exchange
    // (k×64 groups cross the wire, not N×64 rows)
    val p = plan("q102_lloyd_step")
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q113: PQ encoding is shuffle-free on the encode path") {
    // the only exchanges are the single-row codebook build (tiny
    // SinglePartition agg) and the scan fan-out — the per-vector
    // encode itself must never hash/range partition
    val p = plan("q113_pq_encode")
    assert(!p.contains("hashpartitioning"), p.take(2000))
    assert(!p.contains("rangepartitioning"), p.take(2000))
  }

  test("q116: quality sampling shuffles only the per-language census") {
    // one keyed exchange (the groupBy census) and nothing else
    val p = plan("q116_quality_sample")
    val keyed = "hashpartitioning".r.findAllIn(p).length
    assert(keyed == 1, s"expected 1 keyed exchange, plan:\n${p.take(2000)}")
  }

  test("q155: the sketch profiler aggregates in one pass, no Expand") {
    // the exact q128 pays Expand ×2·columns by design (oracle-exact);
    // the production spelling must never reintroduce it
    val p = plan("q155_table_profile_sketch")
    assert(!p.contains("Expand"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("q168: the sketch quantile profiler is window-free, one agg pass") {
    // the exact q101 pays a per-language rank window (full sort) by
    // design (oracle-exact); the production spelling must stay a
    // single map-side-combined aggregate
    val p = plan("q168_length_quantiles_sketch")
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("Sort"), p.take(3000))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      p.take(2000))
  }

  test("q271: the shard anchor's distinct runs once (exchange reuse)") {
    // both order lanes join the same `shards` distinct, which is not
    // checkpointed: it runs once only because AQE reuses its exchange.
    // In the final plan no two stages that ran (a reused stage's plan
    // is a ReusedExchange) may share a canonicalized exchange.
    val df = SparkEntry.queries("q271_shard_mixing")(spark, sf)
    // drive df's OWN QueryExecution (a noop write runs a separate one)
    df.queryExecution.toRdd.foreachPartition(_ => ())
    val aqe = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
    assert(aqe.isFinalPlan)
    def ran(p: SparkPlan): Seq[QueryStageExec] = p match {
      case q: QueryStageExec if q.plan.isInstanceOf[ReusedExchangeExec] => Nil
      case q: QueryStageExec => q +: ran(q.plan)
      case other => other.children.flatMap(ran)
    }
    val stages = ran(aqe.executedPlan)
      .collect { case e: ExchangeQueryStageExec => e }
    assert(stages.nonEmpty, aqe.toString.take(3000))
    val twice = stages.groupBy(_.canonicalized).values.filter(_.size > 1)
    assert(twice.isEmpty, "exchanges run twice, stage ids " +
      twice.map(_.map(_.id).mkString("/")).mkString(", ") + "\n" +
      aqe.toString.take(6000))
  }

  test("no query plans an Expand outside the declared set") {
    // Expand multiplies every input row (×(grouping sets) for
    // rollup/cube, ×(2·distinct aggregates) for multi-distinct) — the
    // q128 scale pitfall. Legitimate users are declared here; any new
    // query that trips this either wants the rollup/cube semantics or
    // has accidentally mixed distinct aggregates and should restage
    // as a two-level census (the q165/q227 spelling).
    val intendedExpand = Set(
      // grouping-sets semantics by design:
      "q09_rollup", "q133_cube_mart", "q209_k_anonymity",
      // exact multi-distinct profiler — q155 is its sketch twin:
      "q128_table_profile",
      // A4/A5: the reference's exact (conditional) count-distinct
      // operators — distinct aggregates ARE the semantics; grain is
      // the grouped census, not the corpus
      "q04_count_distinct", "q05_cond_count_distinct",
      // q218 counts distinct orders per year conditionally (the
      // volume side of the mix/rate split) — same A5 family
      "q218_mix_rate_decomp",
      // q120's feature vector needs TWO distinct facets (active days,
      // event types) per user — Expand ×4 at user grain, by design
      "q120_feature_snapshot",
      // q37 mirrors the reference mart's ticket counting
      // (count-distinct order_index, plus its eliminated-rows
      // conditional twin) — reference semantics win
      "q37_payments_mart")
    val violators = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      !intendedExpand(name) && p.contains("Expand")
    }
    assert(violators.isEmpty,
      s"undeclared Expand plans: ${violators.mkString(", ")}")
  }

  // An unpartitioned Window (empty PARTITION BY) executes as ONE
  // partition holding its entire input — the q153/q161/q221
  // scale-killer round 6 flagged. Every remaining use must ride a
  // frame whose size is BOUNDED by construction (a value-domain
  // census, a calendar grid, a two-level histogram's level-1, a
  // post-limit frame), never corpus/census-scale rows; the map
  // value documents each bound. A new query tripping this either
  // wants the q125/q153 two-level prefix-sum layout, the TopK
  // operator (q108), or a sort+limit (q221). (Shared by the logical
  // whitelist test and the runtime-warning closure test below.)
  private val boundedGlobalWindow = Map(
      "q112_bpe_merges" -> "|alphabet|^2 pair census",
      "q125_token_budget" -> "<=1001-row quality-bucket histogram",
      "q135_skew_diagnostic" -> "group-size histogram (distinct sizes)",
      "q139_backlog_sweep" -> "calendar-day grid",
      "q144_time_to_convert" -> "minutes-histogram census",
      "q149_novelty_curve" -> ("div-1024 super-batch census (level-1 "
        + "of the two-level prefix sum; add a level per further 1000x)"),
      "q151_rank_shift" -> "25-row nation census",
      "q152_hier_share" -> "25-row nation census",
      "q153_pareto_deciles" -> ("<=18k valueBucket histogram + "
        + "10-row decile frame"),
      "q161_gini_revenue" -> "<=18k valueBucket histogram",
      "q179_ks_drift" -> "distinct-length value grid",
      "q181_kappa_audit" -> "label-grid census",
      "q182_benford_audit" -> "9-row first-digit census",
      "q184_wasserstein_drift" -> "distinct-length value grid",
      "q192_trailing_revenue" -> "calendar-day grid",
      "q195_power_iteration" -> "64-row dimension census",
      "q210_skyline" -> "grid-pruned surviving price census",
      "q221_countmin_audit" -> "20-row post-limit probe frame",
      "q224_filter_funnel" -> "2^3 ablation grid",
      // (q232 runs the same |sources| census window, but inside its
      // localCheckpoint'd assignment frame — materialized before this
      // scan sees the plan, and already declared via q225; q234's
      // packed-offset window hides the same way behind its checkpoint
      // and is declared via q233)
      "q225_shard_balance" -> "|sources| census + |shards| frame",
      "q233_packing_spans" -> ("div-1024 doc-bucket census (level-1 "
        + "of the packedOffsets two-level prefix sum)"),
      "q252_heaps_fit" -> ("div-1024 super-batch census (q149's "
        + "two-level prefix-sum layout on the token/vocab lanes)"),
      "q261_padding_waste" -> ("<=18k valueBucket token-length "
        + "histogram (level-1 of the sorted-rank two-level layout)"),
      "q273_bpe_encode" -> ("vocab-id rank over the FINAL VOCABULARY "
        + "census (|alphabet| + DeepBpeRounds rows by construction; "
        + "production analogue = the chosen vocab size, ~50k)"))
      // (q274 rides the same encode frame but consumes only n_tokens —
      // Catalyst prunes the id/vocab lanes and with them the vocab
      // rank window, so its plan is genuinely window-free at the
      // global level; no entry needed)

  test("no query plans an unpartitioned window outside the declared set") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap {
      name =>
        val df = SparkEntry.queries(name)(spark, sf)
        val n = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.size
        if (n > 0) Some(name) else None
    }
    val undeclared = offenders.filterNot(boundedGlobalWindow.contains)
    assert(undeclared.isEmpty,
      s"undeclared unpartitioned windows: ${undeclared.mkString(", ")}")
    val stale = boundedGlobalWindow.keys.toSeq.sorted
      .filterNot(offenders.contains)
    assert(stale.isEmpty,
      s"whitelist entries with no global window (prune them): " +
        stale.mkString(", "))
  }

  // Queries whose bounded global window HIDES from the optimizedPlan
  // scan behind a localCheckpoint (checkpointing severs the lineage
  // before the whitelist test's scan sees it) but still plans a
  // partition-less WindowExec at runtime. Each bound is the same one
  // already documented in boundedGlobalWindow via the shared helper's
  // checkpoint-free user, named in the value.
  private val checkpointHiddenGlobalWindow: Map[String, String] = Map(
    "q232_shard_embedding_audit" -> ("|sources| census + |shards| " +
      "frame inside the checkpointed assignment (q225's window)"),
    "q234_window_occupancy" -> ("div-1024 doc-bucket census inside " +
      "the checkpointed packedOffsets frame (q233's window)"))

  test("the runtime WindowExec warning set matches the declared whitelist") {
    // Round-8 verdict "what's wrong" #4: the whitelist above scans the
    // LOGICAL plan, while the operational signal in verify logs
    // ("WindowExec: No Partition Defined ...") is RUNTIME — and
    // checkpoints hide windows from the logical scan (q232/q234). This
    // test closes the loop: capture the actual log4j WARN events per
    // query across construction (checkpoint materialization) AND
    // planning, and assert warners == declared ∪ checkpoint-hidden —
    // so every observed warning in a verify log maps to a documented
    // bound, and a declared entry that stops warning gets pruned.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Configurator
    // Spark's first Logging use RECONFIGURES log4j (loads its default
    // properties), dropping any programmatically attached appender —
    // so force session + logging init BEFORE attaching (the silent
    // zero-capture failure mode this test's first cut hit).
    spark.sparkContext
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val appender = new AbstractAppender(
      "graft-window-warn-capture", null, null, false, null) {
      override def append(e: org.apache.logging.log4j.core.LogEvent)
          : Unit =
        if (e.getMessage.getFormattedMessage
            .contains("No Partition Defined")) hits.incrementAndGet()
    }
    appender.start()
    val pkg = "org.apache.spark.sql.execution.window"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    Configurator.setLevel(pkg, Level.WARN) // a prior suite may have
    // raised the root level to ERROR (ScaleRehearsal) — pin this logger
    // so isWarnEnabled passes; the event then reaches the root config's
    // appenders via additivity
    val lc = ctx.getConfiguration.getRootLogger
    lc.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val warners = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
        val before = hits.get()
        // construction runs any localCheckpoints (where hidden windows
        // execute); forcing executedPlan runs EnsureRequirements on the
        // outer plan (where requiredChildDistribution logs the warning)
        val df = SparkEntry.queries(name)(spark, sf)
        df.queryExecution.executedPlan
        hits.get() > before
      }.toSet
      val declared =
        boundedGlobalWindow.keySet ++ checkpointHiddenGlobalWindow.keySet
      assert((warners -- declared).isEmpty,
        s"runtime WindowExec warnings with no documented bound: " +
          (warners -- declared).toSeq.sorted.mkString(", "))
      assert((declared -- warners).isEmpty,
        s"declared bounded-window entries that no longer warn " +
          s"(prune or move): " +
          (declared -- warners).toSeq.sorted.mkString(", "))
    } finally {
      lc.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("no query plans a cartesian product or unintended broadcast NLJ") {
    // q62's broadcast nested-loop is the DESIGNED exact-kNN baseline
    // (constant-size broadcast side); q12's validity-window range join
    // is non-equi with a broadcast dimension (the intended range-join
    // plan); q65/q84/q90/q91/q96/q102 cross-join a SINGLE broadcast
    // row (packed centroids / totals) by construction
    // q18/q92/q135 cross-join one-row aggregates (census scalars);
    // q113 cross-joins the single packed-codebook broadcast row;
    // q117 composes those single-row broadcasts plus q62's
    // constant-size ground-truth query broadcast
    // q179 crosses the tiny value GRID with the per-source totals
    // census (|sources| broadcast rows) plus a single-row global
    // total — census-grain by construction, never corpus rows
    val intendedNlj = Set("q12_range_join", "q62_knn_brute",
      "q65_ivf_assign", "q84_semantic_dedup", "q90_mixture_weights",
      "q91_semdedup_centroid", "q96_length_histogram",
      "q18_qa_summary", "q92_funnel", "q102_lloyd_step",
      "q113_pq_encode", "q117_ivfpq_search",
      "q135_skew_diagnostic", "q179_ks_drift", "q183_chi2_drift",
      "q184_wasserstein_drift",
      // q186 crosses the single-row order-count aggregate into the
      // 25²-bounded brand-pair census (lift's denominator scalar)
      "q186_basket_lift",
      // q196 crosses the single-row corpus-stats census (N, Σlen,
      // per-term df) into the scoring scan — the BM25 constants
      "q196_bm25_topk",
      // q197 combines three single-row graph censuses (edge, wedge,
      // triangle counts) into the one-row transitivity report
      "q197_triangle_census",
      // q201 pairs each peeling round's single-row node and edge
      // censuses into that round's report row
      "q201_kcore_peel",
      // q215's ground-truth pass is q62's constant-size query
      // broadcast against the full table (the exact-kNN baseline the
      // LSH candidates are audited against)
      "q215_retrieval_metrics",
      // q237's semantic side is the same q62 constant-probe broadcast
      // (the declared audit cost, like its lexical Σ-df pull)
      "q237_hybrid_agreement",
      // q216 crosses its two single-row metric censuses (candidate
      // stats × truth count) into the one-row report
      "q216_dedup_truth_eval",
      // q217 crosses the single-row global-centroid array into the
      // per-cell centroid frame
      "q217_embedding_drift",
      // q232 is q217's shard-grain sibling — same single-row global
      // centroid cross
      "q232_shard_embedding_audit",
      // q234 crosses its two single-row totals (window count from
      // token sum × windows-with-starts count) into the zero-start
      // histogram row
      "q234_window_occupancy",
      // q220 crosses its four single-row pair-count censuses into the
      // one-row Rand-index report
      "q220_partition_agreement",
      // q223 crosses each round's single-row argmax merge into the
      // vocabulary frame (three rounds, three single-row broadcasts)
      "q223_bpe_train3",
      // q235 applies the same three single-row merge broadcasts when
      // measuring the trained tokenizer's per-language fertility
      "q235_bpe_fertility",
      // q227 crosses its four single-row censuses (doc aggregate +
      // fingerprint/source/lang distinct counts) into the data card
      "q227_datasheet",
      // q230's post-deletion truth pass is q62's constant-size query
      // broadcast; the report crosses three single-row censuses
      "q230_ann_tombstones",
      // q239 crosses the single-row temperature-sum totals into the
      // per-source census (one broadcast row × |sources|)
      "q239_temperature_sweep",
      // q240 crosses the single-row train-token total into the
      // distinct-trigram scoring census
      "q240_backoff_lm",
      // q241 crosses the single-row LM totals into the 256-row bucket
      // census (both census-grain by construction)
      "q241_dsir_select",
      // q243's pair generation is q62's constant-probe broadcast
      // against the full table (the declared agreement-audit cost)
      "q243_sq8_agreement",
      // q244 broadcasts the single packed-centroid row (q65's shape)
      // and the single-row quota into the bounded bucket census
      "q244_cluster_balanced",
      // q245 is q223 iterated: one single-row argmax merge broadcast
      // per round
      "q245_bpe_deep_train",
      // q246 crosses the single-row weight totals into the per-source
      // census (q239's shape on the effective-mass lane)
      "q246_effective_mixture",
      // q247 crosses the single-row census totals into the single-row
      // head sums (1×1)
      "q247_vocab_sweep",
      // q248 crosses the single-row global-centroid array into the
      // 3-row per-split centroid frame (q217's shape)
      "q248_split_drift",
      // q249 broadcasts the single packed-centroid row into routing
      // and assignment; its exact-truth pass is q62's constant-probe
      // broadcast
      "q249_nprobe_sweep",
      // q250 embeds q240's scoring (the single-row train-token total
      // cross) under its per-language rank refinement
      "q250_ppl_gate",
      // q251 crosses the single-row corpus-total census into the
      // vocabulary-grain deviation sum and the per-source report
      "q251_source_drift",
      // q257 composes q250's and q241's single-row total crosses (the
      // two trained gates it applies; each declared above)
      "q257_curation_funnel",
      // q258 crosses the single-row total-variance census into the
      // 64-row per-dimension frame
      "q258_dim_collapse",
      // q260's pair frame is the constant 25-probe set non-equi
      // self-joined (C(25,2) rows at any corpus size — the declared
      // audit cost, q62's convention)
      "q260_jl_audit",
      // q264 crosses two single-row censuses (train token totals +
      // doc priors) into the vocabulary-grain scoring frame — the
      // q240/q241 shape
      "q264_nb_quality_classifier",
      // q265 embeds q240's train-total cross and adds three
      // |sources|-census scalars (global mean, min exponent, weight
      // total) — all single broadcast rows
      "q265_doremi_reweight",
      // q267's eval benchmark is ONE packed broadcast row folded
      // in-row against the corpus scan (q91's shape; constant-size
      // eval set per the q62 rule)
      "q267_semantic_decon",
      // q268 rides q264's nbDocBits frame — the same two single-row
      // census crosses
      "q268_nb_calibration",
      // q272 rides the same nbDocBits frame down to q268's bucket
      // census (its windows are split-partitioned, census-grain)
      "q272_nb_roc_sweep",
      // q269 composes nbDocBits' crosses with q250's (each declared
      // above) into the one-row agreement census
      "q269_gate_agreement",
      // q270 crosses the single-row budget scalar into the
      // |sources|-row mixture census (q246's own cross is hidden
      // behind its checkpoint)
      "q270_epoch_allocation")
    // (q262 composes q257's gate frame — q250 + q241 single-row
    // total crosses, each declared above — but its localCheckpoint
    // materializes the gate before this scan sees the plan, the
    // q232/q234 hiding caveat)
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product")
      if (!intendedNlj(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unintended broadcast nested-loop join")
    }
  }
}
