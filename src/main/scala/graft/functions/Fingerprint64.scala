package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the document content fingerprint (the dedup key
  * of q53/q55/q82/q87/q109/q122/q149 and the streaming corpus dedup):
  * one pass over the text instead of the composed
  * `aggregate(transform(split(...)))` spelling, whose higher-order
  * lambdas are interpreted per element and allocate the full token
  * array per row.
  *
  * Key space: TWO independent polynomial folds over the same token
  * hashes — lane A = (acc·31 + x) mod (2³¹−1), lane B =
  * (acc·131 + x) mod 2147483629 — combined injectively as
  * laneA·2147483629 + laneB, giving ≈2⁶² distinct values (expected
  * birthday collisions ~1 only past 10⁹ distinct items, vs ~40k for
  * a single mod-1e9+7 lane). Every intermediate product stays below
  * 2⁶³, so the identical spelling runs overflow-free under Spark
  * ANSI arithmetic AND in DuckDB BIGINT — a genuinely-64-bit wrapping
  * fold could not be mirrored in the composed `aggregate` witness,
  * which throws on ANSI overflow.
  *
  * Bit-parity contract (pinned by a ScalaCheck property against the
  * composed spelling): token hash x = ascii(t)·131 + length(t) where
  * ascii = first CODEPOINT (0 for the empty token — Spark `ascii`
  * semantics) and length counts codepoints (Spark `length`), folded
  * over `split(text, ' ')` WITH empty tokens kept (Spark split keeps
  * them). The DuckDB twin is [[graft.ops.TextOps.fingerprintSql]].
  */
object Fingerprint64Util {
  private val P1 = 2147483647L // 2^31 - 1 (Mersenne)
  private val P2 = 2147483629L // largest prime below it

  def fingerprint(s: UTF8String): Long = {
    val str = s.toString
    var accA = 0L
    var accB = 0L
    var start = 0
    var done = false
    while (!done) {
      val sp = str.indexOf(' ', start)
      val end = if (sp < 0) str.length else sp
      // token = str[start, end): first codepoint and codepoint count
      // without materializing the substring
      val a =
        if (end == start) 0L else str.codePointAt(start).toLong
      val len = str.codePointCount(start, end).toLong
      val x = a * 131L + len
      accA = (accA * 31L + x) % P1
      accB = (accB * 131L + x) % P2
      if (sp < 0) done = true else start = sp + 1
    }
    accA * P2 + accB
  }
}

/** Native kernel for token-3-gram shingle hashes (the candidate key
  * of q56/q57/q58/q82/q89/q107/q118): token hashes and the rolling
  * 3-gram combine in ONE pass over the text, replacing a
  * transform(split) plus two nested zip_with-over-slices whose
  * interpreted lambdas allocate four intermediate arrays per row.
  * Same bit contract as the composed spelling (pinned by a ScalaCheck
  * property): token hash = first-codepoint·131 + codepoint-count,
  * shingle = ((th₀·100003 + th₁) mod P ·100003 + th₂) mod P with
  * P = 1e9+7; fewer than 3 tokens → empty array. DuckDB twin:
  * [[graft.ops.DedupOps.shinglesSql]]. */
object Shingles3Util {
  // k = 3 of the generalized kernel — bit-identical by the fold
  // identity (acc starts below Mod), pinned by the EngineProperties
  // "K = 3 == shingles3" property; the 3-iteration inner loop costs
  // nothing next to the split/codepoint work
  def shingles(s: UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    ShinglesKUtil.shingles(s, 3)
}

/** Native kernel for the 4-lane MinHash signature (q56/q57/q107/q156
  * and every LSH-banded candidate path): all four per-lane minima of
  * (a·x + b) mod P in ONE pass over the shingle array, replacing four
  * separate `array_min(transform(...))` spellings whose interpreted
  * lambdas each re-walk (and re-allocate) the array per row. Lane
  * constants are [[graft.ops.DedupOps]]'s `ab` table verbatim; empty
  * shingle arrays yield null lanes, exactly like `array_min` over an
  * empty transform — the composed spelling is kept as the
  * ScalaCheck-pinned parity witness. */
object MinHash4Util {
  private val P = 1000000007L
  private val A = Array(37L, 101L, 8191L, 577L)
  private val B = Array(17L, 89L, 131L, 7L)

  def minhash4(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](4)
    if (n > 0) {
      var j = 0
      while (j < 4) {
        val a = A(j)
        val b = B(j)
        var m = Long.MaxValue
        var i = 0
        while (i < n) {
          val h = (a * arr.getLong(i) + b) % P
          if (h < m) m = h
          i += 1
        }
        out(j) = m
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native kernel for winnowing fingerprint selection (q208 and the
  * MOSS-style repeated-span detector): the distinct window-4 minima
  * of the shingle stream in ONE pass, replacing the composed
  * `array_distinct(transform(sequence(...), i -> array_min(slice(...))))`
  * spelling whose interpreted lambdas allocate a 4-element slice per
  * window per row. Bit contract (ScalaCheck-pinned against the
  * composed witness): windows are every 4 consecutive shingles;
  * fewer than 4 shingles degenerate to the one whole-array window;
  * empty input selects nothing; distinctness keeps first-occurrence
  * order (array_distinct semantics — order is irrelevant to the
  * exploded consumers but the parity pin compares arrays). */
object Winnow4Util {
  private val W = 4

  def winnow(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = arr.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (n < W) {
      var m = Long.MaxValue
      var i = 0
      while (i < n) { val v = arr.getLong(i); if (v < m) m = v; i += 1 }
      seen.add(m)
    } else {
      var i = 0
      val last = n - W
      while (i <= last) {
        var m = arr.getLong(i)
        var j = i + 1
        val end = i + W
        while (j < end) { val v = arr.getLong(j); if (v < m) m = v; j += 1 }
        seen.add(m)
        i += 1
      }
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native kernel for K-token window hashes (q213's exact shared-run
  * detection): token hashes and the width-K rolling combine in ONE
  * primitive-long pass, replacing a K-deep zip_with-over-slices chain
  * whose interpreted lambdas re-evaluate the tokenize per slice and
  * box every element (~2 s at sf0.1 for K = 8). Same bit contract as
  * the composed chain (ScalaCheck-pinned in EngineProperties): token
  * hash = first-codepoint·131 + codepoint-count, window hash = mod-P
  * left fold with multiplier 100003; fewer than K tokens → empty
  * array. Generalizes [[Shingles3Util]] (k = 3 is bit-identical to
  * it). `shinglesk_native(text, k)` in [[GraftExtensions.kernels]]. */
object ShinglesKUtil {
  private val Mod = 1000000007L

  def shingles(s: UTF8String, k: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    val parts = str.split(" ", -1)
    val n = parts.length
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = parts(i)
      val a = if (t.isEmpty) 0L else t.codePointAt(0).toLong
      th(i) = a * 131L + t.codePointCount(0, t.length).toLong
      i += 1
    }
    val m = math.max(n - k + 1, 0)
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      var acc = 0L
      var x = 0
      while (x < k) { acc = (acc * 100003L + th(j + x)) % Mod; x += 1 }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
