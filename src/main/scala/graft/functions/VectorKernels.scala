package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Native kernels for the vector hot paths (q61–q66, q84, q91, q102,
  * q117, q124, q126): dot product and squared-L2 distance over
  * `array<float>`/`array<double>` columns. Spark's higher-order
  * `aggregate(zip_with(...))` spelling runs its lambdas INTERPRETED —
  * one closure dispatch plus boxing per element per row — which is the
  * dominant cost of every pairwise similarity join at scale. These
  * kernels are one tight primitive loop behind a codegen'd call
  * (`dot_f32_native` / `l2sq_native` in [[GraftExtensions.kernels]],
  * which passes the float/double flags).
  *
  * Bit-parity contract (pinned by ScalaCheck properties against the
  * composed spellings): elements are widened to double exactly like
  * `CAST(x AS DOUBLE)`, products/differences accumulate LEFT TO RIGHT
  * from 0.0 — the identical IEEE operation sequence, so every oracle
  * hash is unchanged. Mismatched lengths or a null element yield NULL,
  * mirroring `zip_with`'s null padding through the fold.
  */
object VectorKernelsUtil {
  private def read(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def dot(a: ArrayData, b: ArrayData,
          aF: Boolean, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += read(a, i, aF) * read(b, i, bF)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def l2sq(a: ArrayData, b: ArrayData,
           aF: Boolean, bF: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = read(a, i, aF) - read(b, i, bF)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
