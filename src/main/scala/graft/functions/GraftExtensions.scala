package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Accent stripping (SURVEY F6) — NFD-decompose then drop combining
  * marks, the semantics of the reference's `remove_accents`
  * (cleaning_utils.py:261-313); `strip_accents_native` in
  * [[GraftExtensions.kernels]]. */
object StripAccentsUtil {
  def strip(s: UTF8String): UTF8String = {
    if (s == null) return null
    UTF8String.fromString(Cleaning.stripAccentsFn(s.toString))
  }
}

/** Money parser (SURVEY F3): [[Cleaning.parseMoneyFn]]'s decision
  * tree over Spark strings, null for junk; `parse_money_native` in
  * [[GraftExtensions.kernels]]. */
object ParseMoneyUtil {
  def parse(s: UTF8String): java.lang.Double =
    if (s == null) null
    else Cleaning.parseMoneyFn(s.toString) match {
      case Some(v) => java.lang.Double.valueOf(v)
      case None => null
    }
}

/** Native SimHash kernel (the LLM-dedup hot path): one pass over the
  * pre-hashed token array updating 64 bit-counters, instead of the 64
  * separate `aggregate(...)` folds the composed-expression spelling
  * needs (each fold re-walks the whole array). Bit-exact with the
  * DuckDB oracle's fold arithmetic: per bit, sign of Σ(2·bit−1).
  * Input elements pack two independent 32-bit token-hash lanes
  * (low ∥ high), so all 64 votes read from one array walk; bit 63 of
  * the result makes the signature NEGATIVE as a signed long — every
  * downstream use is bitwise (shift/mask/xor/bit_count), which both
  * Spark and DuckDB define identically on two's-complement BIGINT.
  * 64 bits (the Manku et al., WWW'07 width) rather than 32 so that
  * boilerplate-heavy corpora don't collapse onto a handful of
  * signatures; `simhash64_native` in [[GraftExtensions.kernels]]. */
object SimHashUtil {
  def simhash64(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = arr.numElements()
    val acc = new Array[Long](64)
    var i = 0
    while (i < n) {
      // a NULL element null-poisons every bit's vote sum in the
      // composed aggregate() spelling (and the DuckDB oracle), making
      // every CASE yield 0 — match that exactly instead of reading the
      // null slot as value 0
      if (arr.isNullAt(i)) return 0L
      val x = arr.getLong(i)
      var b = 0
      while (b < 64) {
        acc(b) += 2L * ((x >> b) & 1L) - 1L
        b += 1
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0L) r |= (1L << b)
      b += 1
    }
    r
  }
}

/** One injected kernel: its SQL name, its argument count, and the
  * `StaticInvoke` of its `*Util` method over the resolved arguments. */
final case class Kernel(name: String, arity: Int,
                        invoke: Seq[Expression] => StaticInvoke)

/** A kernel call under its SQL name. It resolves like any function,
  * names an unaliased column `name(args)`, and the optimizer replaces
  * it with the kernel's `StaticInvoke`, whose generated code is one
  * static call of the `*Util` method inside whole-stage codegen. */
case class KernelCall(name: String, children: Seq[Expression])
    extends RuntimeReplaceable {
  override lazy val replacement: Expression =
    GraftExtensions.kernels.find(_.name == name).get.invoke(children)
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

object GraftExtensions {
  private val LongArray = ArrayType(LongType, containsNull = false)

  private def call(util: AnyRef, method: String, dataType: DataType,
                   returnNullable: Boolean = false,
                   propagateNull: Boolean = true)
                  (args: Seq[Expression]): StaticInvoke =
    StaticInvoke(util.getClass, dataType, method, args,
      propagateNull = propagateNull, returnNullable = returnNullable)

  /** The vector kernels read float or double elements; the flags are
    * literal arguments taken from the resolved argument types. */
  private def vector(method: String)(args: Seq[Expression]): StaticInvoke =
    call(VectorKernelsUtil, method, DoubleType, returnNullable = true)(
      args ++ args.map(a => Literal(a.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })))

  /** Every native kernel. Null arguments give null except in
    * `bpe_merge`, where a null merge pair is the identity (see
    * [[BpeMergeUtil]]); `returnNullable` marks kernels that can return
    * null for non-null input. Adding a kernel is one `*Util` method
    * plus one row here. */
  val kernels: Seq[Kernel] = Seq(
    Kernel("strip_accents_native", 1,
      call(StripAccentsUtil, "strip", StringType)),
    Kernel("parse_money_native", 1,
      call(ParseMoneyUtil, "parse", DoubleType, returnNullable = true)),
    Kernel("simhash64_native", 1,
      call(SimHashUtil, "simhash64", LongType)),
    Kernel("fingerprint64_native", 1,
      call(Fingerprint64Util, "fingerprint", LongType)),
    Kernel("shingles3_native", 1,
      call(Shingles3Util, "shingles", LongArray)),
    Kernel("shinglesk_native", 2,
      call(ShinglesKUtil, "shingles", LongArray)),
    Kernel("minhash4_native", 1, call(MinHash4Util, "minhash4",
      ArrayType(LongType, containsNull = true))),
    Kernel("winnow4_native", 1, call(Winnow4Util, "winnow", LongArray)),
    Kernel("dot_f32_native", 2, vector("dot")),
    Kernel("l2sq_native", 2, vector("l2sq")),
    Kernel("bpe_merge", 3, call(BpeMergeUtil, "merge",
      ArrayType(StringType, containsNull = false),
      returnNullable = true, propagateNull = false)))
}

/** Session extension registering the [[GraftExtensions.kernels]],
  * Spark's bloom filter expressions, and the two planner strategies
  * (as-of join, per-group top-k); it injects no optimizer rule. Wire
  * with `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (the `graft.Sessions` recipe does); then SQL and
  * `functions.call_function` resolve every kernel by its name. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.kernels.foreach { k =>
      ext.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo(classOf[KernelCall].getName, k.name),
        (children: Seq[Expression]) => {
          require(children.size == k.arity,
            s"${k.name} takes ${k.arity} argument(s), got ${children.size}")
          KernelCall(k.name, children)
        }))
    }
    // Spark ships bloom build/probe expressions for its own runtime
    // row-level filters but does not register them for users; expose
    // them so pipelines can build a compact pre-filter (e.g. the
    // incremental-dedup bloom in q109) without a custom sketch.
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate].getName, "bloom_filter_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c)
        case Seq(c, n) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c, n)
        case Seq(c, n, b) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c, n, b)
        case _ => sys.error("bloom_filter_agg(col[, items[, bits]])")
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
