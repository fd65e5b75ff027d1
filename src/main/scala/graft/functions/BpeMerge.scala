package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the greedy leftmost non-overlapping BPE merge
  * step (`CorpusOps.bpeFoldExpr`'s semantics): one linear pass over
  * the symbol array, replacing the composed in-row `aggregate` fold
  * whose interpreted lambda rebuilds the accumulator array per
  * element (O(n²) copies per word per round) and whose struct
  * accumulator allocates per element. The trainer loop applies this
  * once per word per round — 10 rounds × 4 query families at bench
  * scale, unbounded rounds in a production trainer.
  *
  * Contract (pinned against the composed fold by a ScalaCheck
  * property in EngineProperties): scan left to right; at position i,
  * if syms(i)==mx and syms(i+1)==my emit concat(mx,my) and advance
  * by 2, else emit syms(i) and advance by 1 — identical to the
  * fold's (prev, out) recurrence including the overlap case
  * ("aaa" + (a,a) → [aa, a]). A NULL mx or my (the degenerate
  * LEFT-join-on-TRUE round whose pair census is empty) is the
  * identity, NOT null-out — the vocabulary must pass through
  * unchanged; a NULL syms gives NULL. `bpe_merge(syms, mx, my)` in
  * [[GraftExtensions.kernels]]. */
object BpeMergeUtil {
  def merge(syms: ArrayData, mx: UTF8String, my: UTF8String): ArrayData = {
    if (syms == null) return null
    val n = syms.numElements()
    if (mx == null || my == null || n < 2) {
      val out = new Array[AnyRef](n)
      var i = 0
      while (i < n) { out(i) = syms.getUTF8String(i); i += 1 }
      return new GenericArrayData(out)
    }
    val out = new Array[AnyRef](n)
    var k = 0
    var i = 0
    while (i < n) {
      if (i < n - 1 && mx.equals(syms.getUTF8String(i))
          && my.equals(syms.getUTF8String(i + 1))) {
        out(k) = UTF8String.concat(mx, my)
        k += 1; i += 2
      } else {
        out(k) = syms.getUTF8String(i)
        k += 1; i += 1
      }
    }
    if (k == n) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }
}
