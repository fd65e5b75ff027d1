package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID
  * (stopword-marker voting), document fingerprinting (rolling hash),
  * and exact deduplication.
  *
  * Everything stays inside Catalyst expressions (higher-order array
  * functions, no UDFs) so whole-stage codegen applies and the same
  * logic scales to 100 TB of text unchanged.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  private val FpP1 = 2147483647L // fingerprint lane-A modulus (2^31-1)
  private val FpP2 = 2147483629L // lane-B modulus / injective combiner

  /** Tokens of a whitespace-delimited document. */
  private def toks(c: Column): Column = split(c, " ")

  private[ops] val StopList = "'the','a','of','and','in','to'"

  /** Composite quality score in [0,1]: stop-ratio and length halves —
    * ONE definition shared by q51, the q82 curation capstone, and the
    * q116 quality-weighted sampler. */
  private[ops] def qualityExpr: Column = {
    val nTok = size(toks(col("text"))).cast("double")
    val nStop = expr(
      s"size(filter(split(text, ' '), t -> t IN ($StopList)))")
      .cast("double")
    val lenScore = least(lit(1.0),
      length(col("text")).cast("double") / 400.0)
    (nStop / nTok) * 0.5 + lenScore * 0.5
  }

  /** [[qualityExpr]] for callers outside the ops package (the
    * streaming quality router shares the batch gate's exact signal). */
  private[graft] def qualityCol: Column = qualityExpr

  /** DuckDB twin of [[qualityExpr]] — same operand order so every
    * IEEE operation matches bit-for-bit. */
  private[ops] val qualitySql: String =
    s"""(CAST(len(list_filter(string_split(text, ' '),
           t -> t IN ($StopList))) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
       + least(1.0, CAST(length(text) AS DOUBLE) / 400.0) * 0.5"""

  // ------------------------------------------------------------ tokens
  /** Token counting + basic stats (the LLM-pipeline token counter;
    * whitespace tokenization). */
  val q50TokenStats: Q = (s, d) => {
    import s.implicits._
    val t = toks($"text")
    Tables.documents(s, d)
      .select($"doc_id", $"lang",
        size(t).as("n_tokens"),
        length($"text").as("len_chars"),
        // avg token length from exact ints → identical doubles
        ((length($"text") - (size(t) - 1)).cast("double") /
          size(t).cast("double")).as("avg_token_len"))
  }
  val o50 = """
    SELECT doc_id, lang,
      len(string_split(text, ' ')) AS n_tokens,
      length(text) AS len_chars,
      CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
    FROM documents"""

  // ----------------------------------------------------------- quality
  /** Quality scoring: stopword ratio + length score → composite in
    * [0,1]. All doubles derive from exact integer counts. */
  val q51QualityScore: Q = (s, d) => {
    import s.implicits._
    val nTok = size(toks($"text")).cast("double")
    val nStop = expr(
      s"size(filter(split(text, ' '), t -> t IN ($StopList)))")
      .cast("double")
    val lenScore = least(lit(1.0), length($"text").cast("double") / 400.0)
    Tables.documents(s, d)
      .select($"doc_id",
        (nStop / nTok).as("stop_ratio"),
        lenScore.as("len_score"),
        qualityExpr.as("quality"))
  }
  val o51 = """
    SELECT doc_id,
      sr AS stop_ratio, ls AS len_score,
      sr * 0.5 + ls * 0.5 AS quality
    FROM (
      SELECT doc_id,
        CAST(len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','of','and','in','to'))) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS sr,
        least(1.0, CAST(length(text) AS DOUBLE) / 400.0) AS ls
      FROM documents)"""

  // ----------------------------------------------------------- lang id
  /** Language-ID heuristic: marker-token voting per language, argmax
    * with deterministic tie-break (score desc, language name asc) —
    * the n-gram/stopword language detector of an LLM data pipeline,
    * reported as a (declared, predicted) confusion matrix. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "y"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "de", "et"))

  val q52LangId: Q = (s, d) => {
    import s.implicits._
    val scored = markers.foldLeft(Tables.documents(s, d)) {
      case (df, (lang, ms)) =>
        val inList = ms.map(m => s"'$m'").mkString(",")
        df.withColumn(s"score_$lang",
          expr(s"size(filter(split(text, ' '), t -> t IN ($inList)))"))
    }
    // argmax over the fixed language list; ties → first in (de,en,es,fr)
    val langs = markers.map(_._1).sorted
    val best = langs.tail.foldLeft(
      (col(s"score_${langs.head}"), lit(langs.head))) {
      case ((bs, bl), l) =>
        val sc = col(s"score_$l")
        (when(sc > bs, sc).otherwise(bs),
          when(sc > bs, lit(l)).otherwise(bl))
    }._2
    scored.withColumn("predicted", best)
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n_docs"))
  }
  val o52: String = {
    val scoreCols = markers.map { case (l, ms) =>
      val inList = ms.map(m => s"'$m'").mkString(",")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($inList))) AS score_$l"
    }.mkString(",\n        ")
    val langs = markers.map(_._1).sorted
    // same left-fold argmax: strictly-greater replaces, ties keep earlier
    val pred = langs.tail.foldLeft((s"score_${langs.head}", s"'${langs.head}'")) {
      case ((bs, bl), l) =>
        (s"CASE WHEN score_$l > ($bs) THEN score_$l ELSE ($bs) END",
          s"CASE WHEN score_$l > ($bs) THEN '$l' ELSE ($bl) END")
    }._2
    s"""
    SELECT lang, $pred AS predicted, COUNT(*) AS n_docs
    FROM (
      SELECT lang, text,
        $scoreCols
      FROM documents)
    GROUP BY 1, 2"""
  }

  // ------------------------------------------------------- fingerprint
  /** Two-lane left-fold polynomial rolling hash over token hashes
    * (lanes mod 2³¹−1 / 2147483629, combined injectively → ≈2⁶² key
    * space; see [[graft.functions.Fingerprint64Util]]) — the content
    * key shared by q53, the dedup shuffles in q55/q82, chunk dedup in
    * q122, novelty in q149, and the incremental-dedup semi-join in
    * q87 (an 8-byte key instead of the full document body). */
  private[graft] def fingerprintCol: Column = fingerprintOf(col("text"))

  /** [[fingerprintCol]] over an arbitrary string column — q122 keys
    * chunk-level dedup on the fingerprint of each chunk's text. */
  private[graft] def fingerprintOf(c: Column): Column =
    call_function("fingerprint64_native", c)

  /** The composed higher-order spelling of [[fingerprintCol]] — kept
    * as the parity witness the native kernel is property-tested
    * against (interpreted lambdas per element; the native expression
    * is the hot-path form). */
  private[graft] def fingerprintColComposed: Column = {
    def lane(mult: Long, mod: Long) =
      "aggregate(transform(split(text, ' '), " +
        "t -> CAST(ascii(t) * 131 + length(t) AS BIGINT)), " +
        s"CAST(0 AS BIGINT), (acc, x) -> (acc * $mult + x) % $mod)"
    expr(s"${lane(31L, FpP1)} * $FpP2 + ${lane(131L, FpP2)}")
  }

  /** DuckDB twin of [[fingerprintOf]] over any string expression. */
  private[ops] def fingerprintSqlOf(colExpr: String): String = {
    def lane(mult: Long, mod: Long) = s"""
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split($colExpr, ' '),
            t -> CAST(greatest(unicode(t), 0) * 131 + length(t) AS BIGINT))),
        (acc, x) -> (acc * $mult + x) % $mod)"""
    s"(${lane(31L, FpP1)} * $FpP2 + ${lane(131L, FpP2)})"
  }

  /** DuckDB twin of [[fingerprintCol]] (same lanes, same combine). */
  private[ops] val fingerprintSql: String = fingerprintSqlOf("text")

  /** Document fingerprinting: a content-defined fingerprint any
    * engine reproduces. */
  val q53Fingerprint: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", fingerprintCol.as("fingerprint"))
  }
  val o53 = s"""
    SELECT doc_id, $fingerprintSql AS fingerprint
    FROM documents"""

  // ------------------------------------------------------- exact dedup
  /** Exact deduplication (hash-groupBy): per source, doc counts vs
    * distinct-text counts and the dup overhead — the first stage of any
    * LLM-corpus dedup. At scale the groupBy key would be a content
    * hash (fingerprint above) rather than the full text. */
  val q54ExactDedup: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"text").as("n_distinct"),
        (count(lit(1)) - countDistinct($"text")).as("n_dup_rows"))
  }
  val o54 = """
    SELECT source, COUNT(*) AS n_docs,
      COUNT(DISTINCT text) AS n_distinct,
      COUNT(*) - COUNT(DISTINCT text) AS n_dup_rows
    FROM documents GROUP BY source"""

  /** Canonical-id assignment for exact dedup: every text keyed to the
    * min doc_id holding it; emits only non-canonical rows (the rows an
    * LLM pipeline would drop).
    *
    * Keyed on the 8-byte fingerprint (q53) with the raw text only as a
    * collision tiebreak, and spelled aggregate + join-back rather than
    * a window over `text`: the aggregation's map-side partial combine
    * collapses hot duplicate texts BEFORE the shuffle, and AQE
    * skew-join can split the join's hot keys — window partitions can
    * do neither, so the old text-keyed window shuffled full document
    * bodies and skewed on exactly the rows dedup exists to find. */
  val q55DedupAssign: Q = (s, d) => {
    import s.implicits._
    // The sf corpora carry no exact-duplicate texts, which made this
    // oracle row vacuously green (0 rows). The query's input is now
    // documents ∪ a replayed slice (same text, shifted doc_id — a
    // re-ingested batch, the situation exact dedup exists for),
    // mirrored in the oracle SQL, so canonical-id assignment emits
    // rows and the hash compare exercises the min-id election.
    val base = Tables.documents(s, d)
      .select($"doc_id", $"source", $"text")
    val replay = base.filter($"doc_id" % 97 === 0)
      .withColumn("doc_id", $"doc_id" + lit(1L << 40))
      .withColumn("source", lit("replay"))
    val docs = base.unionByName(replay).withColumn("fp", fingerprintCol)
    val canon = docs.groupBy($"fp", $"text")
      .agg(min($"doc_id").as("canonical_id"))
    docs.join(canon, Seq("fp", "text"))
      .filter($"doc_id" =!= $"canonical_id")
      .select($"doc_id", $"canonical_id", $"source")
  }
  val o55 = """
    WITH docs AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1099511627776 AS doc_id, 'replay' AS source, text
      FROM documents WHERE doc_id % 97 = 0)
    SELECT doc_id, canonical_id, source FROM (
      SELECT doc_id, source,
        MIN(doc_id) OVER (PARTITION BY text) AS canonical_id
      FROM docs)
    WHERE doc_id <> canonical_id"""

  // ------------------------------------------- canonical-form dedup
  /** Normalized (canonical-form) exact dedup: lowercase, strip
    * punctuation, collapse whitespace, THEN fingerprint — catching
    * the case/punctuation variants raw exact dedup (q54) is blind to
    * ("Hello, World!" vs "hello world"), the standard first
    * normalization tier of corpus dedup.
    *
    * The synthetic corpus has no natural case variants, so the input
    * unions an UPPERCASED replayed slice (shifted doc_id, SAME
    * source — the q55 non-vacuity recipe, mirrored in the oracle
    * SQL): raw dedup sees those as distinct, canonical dedup
    * collapses them, and the census reports exactly that gap per
    * source.
    *
    * 100 TB design: normalization is per-row codegen'd string ops;
    * a raw fingerprint maps to exactly one canonical fingerprint, so
    * BOTH distinct counts come from three nested map-side-combined
    * aggregates over 8-byte keys — no countDistinct, no Expand, and
    * text never shuffles. */
  val q165CanonDedup: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d).select($"doc_id", $"source", $"text")
    val replay = base.filter($"doc_id" % 23 === 0)
      .withColumn("doc_id", $"doc_id" + lit(2L << 40))
      .withColumn("text", upper($"text"))
    val canon = trim(regexp_replace(
      regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), " +", " "))
    val fps = base.unionByName(replay)
      .select($"source", fingerprintCol.as("raw_fp"),
        fingerprintOf(canon).as("canon_fp"))
    fps.groupBy($"source", $"canon_fp", $"raw_fp")
      .agg(count(lit(1)).as("n_rows"))
      .groupBy($"source", $"canon_fp")
      .agg(sum($"n_rows").as("n_rows"), count(lit(1)).as("n_raw"))
      .groupBy($"source")
      .agg(sum($"n_rows").cast("long").as("n_docs"),
        sum($"n_raw").cast("long").as("n_raw_distinct"),
        count(lit(1)).as("n_canon_distinct"),
        (sum($"n_raw") - count(lit(1))).cast("long")
          .as("n_norm_variants"))
  }
  val o165: String = {
    val canonSql = fingerprintSqlOf(
      "trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))")
    s"""
    WITH docs AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 2199023255552 AS doc_id, source, upper(text) AS text
      FROM documents WHERE doc_id % 23 = 0),
    fps AS (
      SELECT source, $fingerprintSql AS raw_fp, $canonSql AS canon_fp
      FROM docs),
    l0 AS (
      SELECT source, canon_fp, raw_fp, COUNT(*) AS n_rows
      FROM fps GROUP BY 1, 2, 3),
    l1 AS (
      SELECT source, canon_fp, CAST(SUM(n_rows) AS BIGINT) AS n_rows,
             COUNT(*) AS n_raw
      FROM l0 GROUP BY 1, 2)
    SELECT source, CAST(SUM(n_rows) AS BIGINT) AS n_docs,
      CAST(SUM(n_raw) AS BIGINT) AS n_raw_distinct,
      COUNT(*) AS n_canon_distinct,
      CAST(SUM(n_raw) - COUNT(*) AS BIGINT) AS n_norm_variants
    FROM l1 GROUP BY source"""
  }

  // ----------------------------------------- inter-rater agreement
  /** Cohen's kappa for the language-ID heuristic against the declared
    * label — chance-corrected agreement from q52's confusion matrix:
    * κ = (p_o − p_e) / (1 − p_e) with p_o the trace share and p_e the
    * expected agreement Σ rowᵢ·colᵢ / n². The reliability number an
    * annotation audit quotes (raw accuracy flatters a skewed label
    * distribution; κ does not). Exact rational spelling: every term
    * is an integer count product until the final divides; the
    * declared-label domain here is the marker languages plus 'xx'
    * (other), grouped so the matrix is closed.
    *
    * 100 TB design: one map-side-combined confusion census (bounded:
    * |langs|² cells), then driver-scale arithmetic on the cells. */
  val q181KappaAudit: Q = (s, d) => {
    import s.implicits._
    val conf = q52LangId(s, d)
      .withColumn("declared",
        when($"lang".isin("de", "en", "es", "fr"), $"lang")
          .otherwise(lit("xx")))
      .groupBy($"declared", $"predicted")
      .agg(sum($"n_docs").as("n"))
    val cells = conf
      .withColumn("total", sum($"n").over(Window.partitionBy()))
      .withColumn("agree",
        when($"declared" === $"predicted", $"n").otherwise(lit(0L)))
    val rows = cells.groupBy($"declared")
      .agg(sum($"n").as("row_n"), max($"total").as("total"),
        sum($"agree").as("agree_n"))
    val colsN = cells.groupBy($"predicted").agg(sum($"n").as("col_n"))
    rows.join(colsN, rows("declared") === colsN("predicted"), "left")
      .select($"declared", $"row_n",
        coalesce($"col_n", lit(0L)).as("col_n"),
        $"agree_n", $"total")
      .agg(max($"total").cast("long").as("n_docs"),
        sum($"agree_n").cast("long").as("n_agree"),
        sum($"row_n" * coalesce($"col_n", lit(0L))).cast("long")
          .as("sum_rowcol"))
      .select($"n_docs", $"n_agree",
        ($"n_agree".cast("double") / $"n_docs".cast("double"))
          .as("p_observed"),
        ($"sum_rowcol".cast("double")
          / ($"n_docs".cast("double") * $"n_docs".cast("double")))
          .as("p_expected"),
        (($"n_agree".cast("double") / $"n_docs".cast("double")
          - $"sum_rowcol".cast("double")
            / ($"n_docs".cast("double") * $"n_docs".cast("double")))
          / (lit(1.0) - $"sum_rowcol".cast("double")
            / ($"n_docs".cast("double") * $"n_docs".cast("double"))))
          .as("kappa"))
  }
  val o181: String = s"""
    WITH conf0 AS (${o52}),
    conf AS (
      SELECT CASE WHEN lang IN ('de','en','es','fr') THEN lang
                  ELSE 'xx' END AS declared,
             predicted, CAST(SUM(n_docs) AS BIGINT) AS n
      FROM conf0 GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM conf),
    rows_n AS (
      SELECT declared, CAST(SUM(n) AS BIGINT) AS row_n,
        CAST(SUM(CASE WHEN declared = predicted THEN n ELSE 0 END)
          AS BIGINT) AS agree_n
      FROM conf GROUP BY declared),
    cols_n AS (
      SELECT predicted, CAST(SUM(n) AS BIGINT) AS col_n
      FROM conf GROUP BY predicted),
    terms AS (
      SELECT r.declared, r.row_n, COALESCE(c.col_n, 0) AS col_n,
        r.agree_n, (SELECT total FROM tot) AS total
      FROM rows_n r LEFT JOIN cols_n c ON c.predicted = r.declared),
    s AS (
      SELECT CAST(MAX(total) AS BIGINT) AS n_docs,
        CAST(SUM(agree_n) AS BIGINT) AS n_agree,
        CAST(SUM(row_n * col_n) AS BIGINT) AS sum_rowcol
      FROM terms)
    SELECT n_docs, n_agree,
      CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p_observed,
      CAST(sum_rowcol AS DOUBLE)
        / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
        AS p_expected,
      (CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE)
        - CAST(sum_rowcol AS DOUBLE)
          / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
      / (1.0 - CAST(sum_rowcol AS DOUBLE)
          / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
        AS kappa
    FROM s"""

  // ------------------------------------------- rule-based quality gate
  /** Gopher-style per-rule quality census: four independent boolean
    * document rules — token count ≥ 20, mean word length ≥ 4.5,
    * ≥ 2 stopwords, type-token ratio ≥ 0.5 — each counted separately
    * per source plus the all-rules conjunction. Unlike q51's composite
    * score (one scalar, one threshold), the per-rule breakdown is what
    * a filtering-pipeline audit reads: it shows WHICH rule each
    * source's documents fail before anyone tunes thresholds.
    *
    * Every rule is spelled in pure integer arithmetic (the mean-length
    * rule as 2·(chars−(tokens−1)) ≥ 9·tokens — no division, no
    * doubles), so oracle parity is exact by construction.
    *
    * 100 TB design: per-row codegen'd array ops feeding ONE
    * map-side-combined census keyed on source — text never shuffles. */
  val q166GopherRules: Q = (s, d) => {
    import s.implicits._
    val n = size(toks($"text"))
    val c = length($"text")
    val nStop = expr(
      s"size(filter(split(text, ' '), t -> t IN ($StopList)))")
    val nDist = size(array_distinct(toks($"text")))
    Tables.documents(s, d)
      .select($"source",
        when(n >= 20, 1L).otherwise(0L).as("p_wc"),
        when(lit(2) * (c - (n - 1)) >= lit(9) * n, 1L).otherwise(0L)
          .as("p_wlen"),
        when(nStop >= 2, 1L).otherwise(0L).as("p_stop"),
        when(lit(2) * nDist >= n, 1L).otherwise(0L).as("p_ttr"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"p_wc").cast("long").as("n_pass_wordcount"),
        sum($"p_wlen").cast("long").as("n_pass_wordlen"),
        sum($"p_stop").cast("long").as("n_pass_stopwords"),
        sum($"p_ttr").cast("long").as("n_pass_ttr"),
        sum($"p_wc" * $"p_wlen" * $"p_stop" * $"p_ttr").cast("long")
          .as("n_pass_all"))
  }
  val o166: String = s"""
    WITH r AS (
      SELECT source,
        CASE WHEN len(string_split(text, ' ')) >= 20
          THEN 1 ELSE 0 END AS p_wc,
        CASE WHEN 2 * (length(text) - (len(string_split(text, ' ')) - 1))
                  >= 9 * len(string_split(text, ' '))
          THEN 1 ELSE 0 END AS p_wlen,
        CASE WHEN len(list_filter(string_split(text, ' '),
                     t -> t IN ($StopList))) >= 2
          THEN 1 ELSE 0 END AS p_stop,
        CASE WHEN 2 * len(list_distinct(string_split(text, ' ')))
                  >= len(string_split(text, ' '))
          THEN 1 ELSE 0 END AS p_ttr
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(p_wc) AS BIGINT) AS n_pass_wordcount,
      CAST(SUM(p_wlen) AS BIGINT) AS n_pass_wordlen,
      CAST(SUM(p_stop) AS BIGINT) AS n_pass_stopwords,
      CAST(SUM(p_ttr) AS BIGINT) AS n_pass_ttr,
      CAST(SUM(p_wc * p_wlen * p_stop * p_ttr) AS BIGINT) AS n_pass_all
    FROM r GROUP BY source"""

  // ------------------------------------------- truncation/prefix dupes
  /** Truncation-duplicate detection: documents whose text is a strict
    * PREFIX of another document — the re-crawl-cut-off-mid-page /
    * context-window-clipped case that exact dedup (different lengths →
    * different fingerprints) and shingle Jaccard (a half-length prefix
    * sits near J = 0.5, under typical thresholds) both miss.
    *
    * Candidate blocking on the fingerprint of the first 32 chars: a
    * prefix pair by definition agrees on any head slice, so blocks
    * keyed on the head fingerprint contain every prefix pair whose
    * short side is ≥ 32 chars; pairs verify in-row with an actual
    * starts_with. The corpus carries no natural truncations, so the
    * input unions a half-length replayed slice (the q55 non-vacuity
    * recipe, mirrored in the oracle SQL).
    *
    * 100 TB design: the q58 posting-list layout — ONE exchange keyed
    * on the 8-byte head fingerprint, block-size cap 100 (an oversized
    * block is boilerplate, not truncation), pair generation + prefix
    * verification in-row over the sorted block. No self-join, no
    * cross join; text travels once, inside its block row. */
  val q167PrefixDupes: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", $"source", $"text", $"n_chars")
    val replay = base.filter($"doc_id" % 29 === 0 && $"n_chars" >= 80)
      .withColumn("doc_id", $"doc_id" + lit(3L << 40))
      .withColumn("text", expr("substring(text, 1, CAST(n_chars DIV 2 AS INT))"))
      .withColumn("n_chars", expr("n_chars DIV 2"))
    val blocks = base.unionByName(replay)
      .withColumn("pk", fingerprintOf(expr("substring(text, 1, 32)")))
      .groupBy($"pk")
      .agg(collect_list(struct($"n_chars".as("len"), $"doc_id",
        $"source", $"text")).as("ds"))
      .filter(size($"ds").between(2, 100))
      .withColumn("ds", sort_array($"ds")) // (len, doc_id) asc
    val pairs = blocks.select(explode(expr(
      s"""filter(${DedupOps.pairGenExpr("ds",
        """named_struct(
             'source', element_at(ds, i).source,
             'short_id', element_at(ds, i).doc_id,
             'lost', x.len - element_at(ds, i).len,
             'ok', CASE WHEN x.len > element_at(ds, i).len
                     AND startswith(x.text, element_at(ds, i).text)
                   THEN 1 ELSE 0 END)""")},
           p -> p.ok = 1)""")).as("pr"))
    pairs
      .groupBy($"pr.source".as("source"), $"pr.short_id".as("short_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum($"pr.lost").as("chars_lost"))
      .groupBy($"source")
      .agg(sum($"n_pairs").cast("long").as("n_prefix_pairs"),
        count(lit(1)).as("n_truncated_docs"),
        sum($"chars_lost").cast("long").as("chars_lost"))
  }
  val o167: String = {
    val pkSql = fingerprintSqlOf("substring(text, 1, 32)")
    s"""
    WITH docs AS (
      SELECT doc_id, source, text, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 3298534883328 AS doc_id, source,
        substring(text, 1, CAST(n_chars // 2 AS INT)) AS text,
        n_chars // 2 AS n_chars
      FROM documents WHERE doc_id % 29 = 0 AND n_chars >= 80),
    keyed AS (
      SELECT doc_id, source, text, n_chars, $pkSql AS pk FROM docs),
    ok_blocks AS (
      SELECT pk FROM keyed GROUP BY pk
      HAVING COUNT(*) BETWEEN 2 AND 100),
    k AS (SELECT keyed.* FROM keyed JOIN ok_blocks USING (pk)),
    pairs AS (
      SELECT a.source AS source, a.doc_id AS short_id,
        b.n_chars - a.n_chars AS lost
      FROM k a JOIN k b
        ON a.pk = b.pk AND a.n_chars < b.n_chars
        AND starts_with(b.text, a.text)),
    per_doc AS (
      SELECT source, short_id, COUNT(*) AS n_pairs,
        SUM(lost) AS chars_lost
      FROM pairs GROUP BY 1, 2)
    SELECT source, CAST(SUM(n_pairs) AS BIGINT) AS n_prefix_pairs,
      COUNT(*) AS n_truncated_docs,
      CAST(SUM(chars_lost) AS BIGINT) AS chars_lost
    FROM per_doc GROUP BY source"""
  }

  // ---------------------------------------------------- curation e2e
  /** The capstone corpus-curation pipeline, composed from the
    * primitives: quality gate (stop-ratio + length composite ≥ 0.4) →
    * language allowlist → exact dedup (canonical id survives) →
    * near-dup drop (of each Jaccard ≥ 0.5 pair, the higher doc_id
    * drops) → per-language census of survivors with token budget.
    * One declarative plan; at 100 TB each stage is the same shuffle
    * layout the standalone queries use. */
  val q82Curation: Q = (s, d) => {
    import s.implicits._
    // ONE scan + tokenize + shingle of the corpus (localCheckpointed)
    // feeds BOTH stages: the quality/canon gate reads text/quality off
    // it, the near-dup pair source derives from its `shs` column via
    // jaccardFrom — previously the q58 derivation re-scanned and
    // re-shingled the full corpus (ROADMAP gap 6; at 100 TB this is
    // the "materialize the shingle table once" layout q98 uses).
    val basis = DedupOps.withShingles(
      Tables.documents(s, d)
        .withColumn("quality", qualityExpr)
        .withColumn("n_tokens", size(toks($"text"))))
      .select($"doc_id", $"lang", $"text", $"quality", $"n_tokens", $"shs")
      .localCheckpoint(eager = false)
    // exact-dedup stage keyed on (fingerprint, text) like q55: the
    // groupBy's map-side combine collapses hot duplicates pre-shuffle,
    // and the canonical row's attributes come out of the same agg
    // (min_by for lang; n_tokens is a function of text, constant per
    // group) — no window over document bodies, no join-back needed
    // since only canonical rows survive this stage anyway
    val canon = basis
      .filter($"quality" >= 0.4 && $"lang".isin("en", "es", "fr"))
      .withColumn("fp", fingerprintCol)
      .groupBy($"fp", $"text")
      .agg(min($"doc_id").as("doc_id"),
        min_by($"lang", $"doc_id").as("lang"),
        min($"n_tokens").as("n_tokens"))
    val dropped = DedupOps.jaccardFrom(basis)
      .select($"doc_b".as("doc_id")).distinct()
    canon.join(dropped, Seq("doc_id"), "left_anti")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").cast("long").as("total_tokens"))
  }
  val o82: String = s"""
    WITH jacc AS (${DedupOps.o58}),
    dropped AS (SELECT DISTINCT doc_b AS doc_id FROM jacc),
    scored AS (
      SELECT doc_id, lang, text,
        len(string_split(text, ' ')) AS n_tokens,
        (CAST(len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','of','and','in','to'))) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
          + least(1.0, CAST(length(text) AS DOUBLE) / 400.0) * 0.5
          AS quality
      FROM documents),
    gated AS (
      SELECT *, MIN(doc_id) OVER (PARTITION BY text) AS canonical_id
      FROM scored
      WHERE quality >= 0.4 AND lang IN ('en', 'es', 'fr')),
    survivors AS (
      SELECT g.* FROM gated g
      ANTI JOIN dropped d ON g.doc_id = d.doc_id
      WHERE g.doc_id = g.canonical_id)
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM survivors GROUP BY lang"""

  // ---------------------------------------------- subword token census
  /** BPE-ish token accounting per language: whitespace tokens, regex
    * tokens (word / number / punctuation runs — the pre-tokenizer
    * split every BPE family applies first), and a subword-count
    * estimate of ⌈len/4⌉ per regex token (the ~4-chars-per-token rule
    * of thumb used for budget planning) — the three numbers a training
    * budget is quoted in. All integer arithmetic, summed per language.
    *
    * 100 TB design: per-row regex + array folds (codegen'd, no UDF),
    * one map-side-combined census — the same shape as q50. */
  private val PreTokRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  val q106SubwordCensus: Q = (s, d) => {
    Tables.documents(s, d)
      .withColumn("re_toks",
        regexp_extract_all(col("text"), lit(PreTokRe), lit(0)))
      .withColumn("n_ws", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_re", size(col("re_toks")).cast("long"))
      .withColumn("n_sub", expr(
        """aggregate(transform(re_toks,
             t -> CAST((length(t) + 3) div 4 AS BIGINT)),
           CAST(0 AS BIGINT), (a, x) -> a + x)"""))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).cast("long").as("ws_tokens"),
        sum(col("n_re")).cast("long").as("re_tokens"),
        sum(col("n_sub")).cast("long").as("est_subwords"))
  }
  val o106: String = s"""
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      CAST(SUM(len(regexp_extract_all(text, '$PreTokRe'))) AS BIGINT)
        AS re_tokens,
      CAST(SUM(list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(regexp_extract_all(text, '$PreTokRe'),
            t -> CAST((length(t) + 3) // 4 AS BIGINT))),
        (a, x) -> a + x)) AS BIGINT) AS est_subwords
    FROM documents GROUP BY lang"""

  // ------------------------------------- sample-estimate audit
  /** Wilson-interval audit of a sampled statistic: estimate the
    * corpus exact-duplicate rate from the deterministic ~5% seeded
    * sample (q81's hash, partition-stable) and check the 95% Wilson
    * interval against the TRUE rate computed from the full corpus —
    * the audit that says whether "measure it on a sample" is safe for
    * a given corpus statistic before the pipeline starts trusting
    * sampled dashboards at 100 TB (where the full-corpus pass is the
    * expensive one). Duplicates are planted (documents ∪ an exact
    * replayed slice at +7·2⁴⁰, the q55 recipe) so the true rate is
    * nonzero at every SF.
    *
    * Float parity: both rates are exact-integer ratios with one
    * divide; the Wilson center/half-width is the SAME literal-1.96
    * expression text on both engines (identical IEEE sequence).
    *
    * 100 TB design: the dup flag is a fingerprint-keyed census
    * (8-byte keys); full-corpus and sample counts come from ONE
    * conditional aggregate over it (the sample predicate only needs
    * doc_id, already in the frame) — no second scan, no cross join.
    * The sample predicate is the q81 seeded hash, so the "sample"
    * here is the cheap scan. */
  private val ReplayOff7 = 7L << 40
  private val AuditSeed = 42L

  /** The planted-duplicate corpus shared by q226/q228: documents ∪ an
    * EXACT replayed slice (doc_id ≡ 0 mod 6, shifted to +7·2⁴⁰) —
    * one recipe, so the two audits can never desynchronize on what
    * "the planted dup rate" is. */
  private def replayedBase(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 6 === 0)
      .withColumn("doc_id", col("doc_id") + lit(ReplayOff7)))
  }
  /** DuckDB twin of [[replayedBase]] (a `base` CTE body). */
  private val replayedBaseSql: String = s"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + $ReplayOff7 AS doc_id, text
      FROM documents WHERE doc_id % 6 = 0"""

  val q226SampleAudit: Q = (s, d) => {
    import s.implicits._
    val docs = replayedBase(s, d).withColumn("fp", fingerprintCol)
    val dupFlag = docs
      .join(docs.groupBy($"fp").agg(count(lit(1)).as("nfp")), Seq("fp"))
      .select($"doc_id",
        when($"nfp" >= 2, 1L).otherwise(0L).as("is_dup"))
    val inSample = expr(s"""((((doc_id % 1000000007) * 2654435761
        + ${AuditSeed * 40503L}) % 1000000007)
        * 2654435761) % 1000000007 % 100 < 5""")
    dupFlag
      .agg(count(lit(1)).as("n_total"),
        sum($"is_dup").cast("long").as("k_total"),
        sum(when(inSample, 1L).otherwise(0L)).cast("long")
          .as("n_sample"),
        sum(when(inSample, $"is_dup").otherwise(0L)).cast("long")
          .as("k_sample"))
      .withColumn("true_rate",
        $"k_total".cast("double") / $"n_total")
      .withColumn("est_rate", $"k_sample".cast("double") / $"n_sample")
      .withColumn("center", expr(
        """(est_rate + 1.96 * 1.96 / (2 * n_sample))
           / (1 + 1.96 * 1.96 / n_sample)"""))
      .withColumn("half", expr(
        """1.96 * sqrt(est_rate * (1 - est_rate) / n_sample
             + 1.96 * 1.96 / (4 * n_sample * n_sample))
           / (1 + 1.96 * 1.96 / n_sample)"""))
      .select($"n_total", $"k_total", $"true_rate",
        $"n_sample", $"k_sample", $"est_rate",
        ($"center" - $"half").as("wilson_lo"),
        ($"center" + $"half").as("wilson_hi"),
        when(abs($"true_rate" - $"center") <= $"half", 1L)
          .otherwise(0L).as("covered"))
  }
  val o226: String = s"""
    WITH base AS ($replayedBaseSql),
    fps AS (SELECT doc_id, $fingerprintSql AS fp FROM base),
    dupflag AS (
      SELECT f.doc_id,
        CASE WHEN c.nfp >= 2 THEN CAST(1 AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS is_dup
      FROM fps f JOIN (SELECT fp, COUNT(*) AS nfp FROM fps
                       GROUP BY fp) c ON c.fp = f.fp),
    censuses AS (
      SELECT COUNT(*) AS n_total,
        CAST(SUM(is_dup) AS BIGINT) AS k_total,
        CAST(SUM(CASE WHEN ((((doc_id % 1000000007) * 2654435761
            + ${AuditSeed * 40503L}) % 1000000007)
            * 2654435761) % 1000000007 % 100 < 5
          THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
        CAST(SUM(CASE WHEN ((((doc_id % 1000000007) * 2654435761
            + ${AuditSeed * 40503L}) % 1000000007)
            * 2654435761) % 1000000007 % 100 < 5
          THEN is_dup ELSE 0 END) AS BIGINT) AS k_sample
      FROM dupflag),
    rates AS (
      SELECT *,
        CAST(k_total AS DOUBLE) / n_total AS true_rate,
        CAST(k_sample AS DOUBLE) / n_sample AS est_rate
      FROM censuses),
    wils AS (
      SELECT *,
        (est_rate + 1.96 * 1.96 / (2 * n_sample))
          / (1 + 1.96 * 1.96 / n_sample) AS center,
        1.96 * sqrt(est_rate * (1 - est_rate) / n_sample
            + 1.96 * 1.96 / (4 * n_sample * n_sample))
          / (1 + 1.96 * 1.96 / n_sample) AS half
      FROM rates)
    SELECT n_total, k_total, true_rate, n_sample, k_sample, est_rate,
      center - half AS wilson_lo, center + half AS wilson_hi,
      CAST(CASE WHEN abs(true_rate - center) <= half THEN 1 ELSE 0 END
        AS BIGINT) AS covered
    FROM wils"""

  // --------------------------------------------- corpus datasheet
  /** One-query data card (the "Datasheets for Datasets" summary a
    * corpus ships with): docs / tokens / chars / sources / languages
    * / distinct contents / exact-dup rate / mean quality, as
    * (metric, value) rows from ONE scan plus three key censuses.
    * Every number is exact (counts, census counts, one decimal-routed
    * mean) — the honest version of the dashboard a consumer reads
    * before training on the corpus.
    *
    * 100 TB design: the doc-grain aggregate and the three distinct
    * censuses (fingerprint / source / language) are each ONE
    * map-side-combined pass — no multi-distinct Expand (the q128
    * pitfall); the four single-row censuses cross into the report
    * (intended broadcast — whitelisted). */
  val q227Datasheet: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .withColumn("fp", fingerprintCol)
      .withColumn("ntok", size(toks($"text")).cast("long"))
      .withColumn("q", qualityExpr)
    val a = docs.agg(
      count(lit(1)).as("n_docs"),
      sum($"ntok").cast("long").as("n_tokens"),
      sum($"n_chars").cast("long").as("n_chars_total"),
      (sum($"q".cast("decimal(30,8)")).cast("double")
        / count(lit(1))).as("mean_quality"))
    def censusCount(key: String, as: String) =
      docs.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as(as))
    a.crossJoin(censusCount("fp", "n_distinct_fp"))
      .crossJoin(censusCount("source", "n_sources"))
      .crossJoin(censusCount("lang", "n_langs"))
      .select(expr("""stack(8,
        'n_docs', CAST(n_docs AS DOUBLE),
        'n_tokens', CAST(n_tokens AS DOUBLE),
        'n_chars', CAST(n_chars_total AS DOUBLE),
        'n_sources', CAST(n_sources AS DOUBLE),
        'n_langs', CAST(n_langs AS DOUBLE),
        'n_distinct_docs', CAST(n_distinct_fp AS DOUBLE),
        'exact_dup_rate',
          CAST(n_docs - n_distinct_fp AS DOUBLE) / n_docs,
        'mean_quality', mean_quality) AS (metric, value)"""))
  }
  val o227: String = {
    val arms = Seq(
      "'n_docs'" -> "CAST(n_docs AS DOUBLE)",
      "'n_tokens'" -> "CAST(n_tokens AS DOUBLE)",
      "'n_chars'" -> "CAST(n_chars_total AS DOUBLE)",
      "'n_sources'" -> "CAST(n_sources AS DOUBLE)",
      "'n_langs'" -> "CAST(n_langs AS DOUBLE)",
      "'n_distinct_docs'" -> "CAST(n_distinct_fp AS DOUBLE)",
      "'exact_dup_rate'" ->
        "CAST(n_docs - n_distinct_fp AS DOUBLE) / n_docs",
      "'mean_quality'" -> "mean_quality"
    ).map { case (m, v) =>
      s"SELECT $m AS metric, $v AS value FROM j"
    }.mkString("\n    UNION ALL\n    ")
    s"""
    WITH docs AS (
      SELECT doc_id, source, lang, n_chars,
        $fingerprintSql AS fp,
        len(string_split(text, ' ')) AS ntok,
        $qualitySql AS q
      FROM documents),
    a AS (
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        CAST(SUM(CAST(q AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*)
          AS mean_quality
      FROM docs),
    b AS (SELECT COUNT(*) AS n_distinct_fp
          FROM (SELECT fp FROM docs GROUP BY fp)),
    c AS (SELECT COUNT(*) AS n_sources
          FROM (SELECT source FROM docs GROUP BY source)),
    e AS (SELECT COUNT(*) AS n_langs
          FROM (SELECT lang FROM docs GROUP BY lang)),
    j AS (SELECT * FROM a CROSS JOIN b CROSS JOIN c CROSS JOIN e)
    $arms"""
  }

  // ------------------------------------- effective-token funnel
  /** Effective training tokens: the funnel from raw corpus tokens
    * through exact-dedup survivors (min-doc_id per fingerprint) to
    * the quality gate (q51 composite ≥ 0.4) — the number that
    * actually matters for epoch math, reported in both docs and
    * tokens with the surviving-token share. Duplicates are planted
    * (the q226 replay recipe) so the dedup stage is non-vacuous at
    * every SF.
    *
    * 100 TB design: survivor election is one fingerprint-keyed census
    * join (8-byte keys); ALL THREE stages come from one conditional
    * aggregate over the flagged frame — the funnel never rescans. */
  val q228EffectiveTokens: Q = (s, d) => {
    import s.implicits._
    val docs = replayedBase(s, d)
      .withColumn("fp", fingerprintCol)
      .withColumn("ntok", size(toks($"text")).cast("long"))
      .withColumn("q", qualityExpr)
    val surv = docs.groupBy($"fp").agg(min($"doc_id").as("keep_id"))
    val flagged = docs.join(surv, Seq("fp"))
      .withColumn("is_surv", $"doc_id" === $"keep_id")
      .withColumn("pass_q", $"q" >= 0.4)
    flagged.agg(
      count(lit(1)).as("d0"),
      sum($"ntok").cast("long").as("t0"),
      sum(when($"is_surv", 1L).otherwise(0L)).cast("long").as("d1"),
      sum(when($"is_surv", $"ntok").otherwise(0L)).cast("long")
        .as("t1"),
      sum(when($"is_surv" && $"pass_q", 1L).otherwise(0L))
        .cast("long").as("d2"),
      sum(when($"is_surv" && $"pass_q", $"ntok").otherwise(0L))
        .cast("long").as("t2"))
      .select(expr("""stack(3,
        'raw', d0, t0, CAST(1 AS DOUBLE),
        'exact_dedup', d1, t1, CAST(t1 AS DOUBLE) / t0,
        'dedup_quality', d2, t2, CAST(t2 AS DOUBLE) / t0)
        AS (stage, n_docs, n_tokens, token_share)"""))
  }
  val o228: String = s"""
    WITH base AS ($replayedBaseSql),
    docs AS (
      SELECT doc_id, $fingerprintSql AS fp,
        len(string_split(text, ' ')) AS ntok,
        $qualitySql AS q
      FROM base),
    surv AS (SELECT fp, MIN(doc_id) AS keep_id FROM docs GROUP BY fp),
    flagged AS (
      SELECT d.ntok,
        CASE WHEN d.doc_id = s.keep_id THEN 1 ELSE 0 END AS is_surv,
        CASE WHEN d.q >= 0.4 THEN 1 ELSE 0 END AS pass_q
      FROM docs d JOIN surv s ON s.fp = d.fp),
    agg AS (
      SELECT COUNT(*) AS d0, CAST(SUM(ntok) AS BIGINT) AS t0,
        CAST(SUM(is_surv) AS BIGINT) AS d1,
        CAST(SUM(CASE WHEN is_surv = 1 THEN ntok ELSE 0 END)
          AS BIGINT) AS t1,
        CAST(SUM(CASE WHEN is_surv = 1 AND pass_q = 1 THEN 1 ELSE 0
          END) AS BIGINT) AS d2,
        CAST(SUM(CASE WHEN is_surv = 1 AND pass_q = 1 THEN ntok
          ELSE 0 END) AS BIGINT) AS t2
      FROM flagged)
    SELECT 'raw' AS stage, d0 AS n_docs, t0 AS n_tokens,
      CAST(1 AS DOUBLE) AS token_share FROM agg
    UNION ALL
    SELECT 'exact_dedup', d1, t1, CAST(t1 AS DOUBLE) / t0 FROM agg
    UNION ALL
    SELECT 'dedup_quality', d2, t2, CAST(t2 AS DOUBLE) / t0 FROM agg"""

  // ------------------------------------------- term burstiness
  /** Church–Gale burstiness over the head vocabulary: for each of the
    * top-256 terms by collection frequency, cf (total occurrences),
    * df (documents containing it), and burstiness = cf/df — the mean
    * repeat count inside documents that use the term at all. A
    * function word sits near cf/df ≈ uniform; a bursty term (template
    * boilerplate, spam keyword) concentrates its mass in few docs —
    * the lexical-statistics screen that catches repetitive templates
    * q88's WITHIN-document repetition rule misses when each copy sits
    * in a different document. q115 profiles the rank-frequency SHAPE;
    * this profiles per-term document concentration.
    *
    * 100 TB design: df comes from the (term, doc) census — two
    * map-side combined aggregates, never a count-distinct Expand; the
    * head is extracted by the two-phase top-k heap operator
    * (`plans/TopKPlan`), never an unpartitioned rank window over the
    * vocabulary (the q221 lesson); the oracle is the naive
    * row_number spelling, pinning the heap row-identical. */
  val q256Burstiness: Q = (s, d) => {
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val census = perDoc.groupBy(col("term"))
      .agg(sum(col("c")).cast("long").as("cf"),
        count(lit(1)).as("df"))
    graft.plans.TopK.perGroup(census, Seq.empty,
      Seq(("cf", true), ("term", false)), 256)
      .withColumn("burstiness",
        col("cf").cast("double") / col("df").cast("double"))
  }
  val o256: String = """
    WITH per_doc AS (
      SELECT term, doc_id, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
      GROUP BY term, doc_id),
    census AS (
      SELECT term, CAST(SUM(c) AS BIGINT) AS cf, COUNT(*) AS df
      FROM per_doc GROUP BY term),
    ranked AS (
      SELECT term, cf, df,
        CAST(row_number() OVER (ORDER BY cf DESC, term ASC) AS BIGINT)
          AS rank
      FROM census)
    SELECT term, cf, df, rank,
      CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) AS burstiness
    FROM ranked WHERE rank <= 256"""

  val queries: Map[String, Q] = Map(
    "q256_burstiness" -> q256Burstiness,
    "q226_sample_audit" -> q226SampleAudit,
    "q227_datasheet" -> q227Datasheet,
    "q228_effective_tokens" -> q228EffectiveTokens,
    "q82_curation" -> q82Curation,
    "q106_subword_census" -> q106SubwordCensus,
    "q50_token_stats" -> q50TokenStats,
    "q51_quality_score" -> q51QualityScore,
    "q52_lang_id" -> q52LangId,
    "q53_fingerprint" -> q53Fingerprint,
    "q54_exact_dedup" -> q54ExactDedup,
    "q55_dedup_assign" -> q55DedupAssign,
    "q165_canon_dedup" -> q165CanonDedup,
    "q166_gopher_rules" -> q166GopherRules,
    "q167_prefix_dupes" -> q167PrefixDupes,
    "q181_kappa_audit" -> q181KappaAudit)

  val oracles: Map[String, String] = Map(
    "q256_burstiness" -> o256,
    "q226_sample_audit" -> o226,
    "q227_datasheet" -> o227,
    "q228_effective_tokens" -> o228,
    "q82_curation" -> o82,
    "q106_subword_census" -> o106,
    "q50_token_stats" -> o50,
    "q51_quality_score" -> o51,
    "q52_lang_id" -> o52,
    "q53_fingerprint" -> o53,
    "q54_exact_dedup" -> o54,
    "q55_dedup_assign" -> o55,
    "q165_canon_dedup" -> o165,
    "q166_gopher_rules" -> o166,
    "q167_prefix_dupes" -> o167,
    "q181_kappa_audit" -> o181)
}
