package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for accent stripping (SURVEY F6) —
  * NFD-decompose then drop combining marks, the semantics of the
  * reference's `remove_accents` (cleaning_utils.py:261-313).
  *
  * A Scala UDF gives the same answer but is an optimizer black box:
  * not codegen-inlined, blocks null-intolerance reasoning, and boxes
  * every row. This expression participates in whole-stage codegen
  * (`doGenCode` emits a static call), so the surrounding projection
  * stays in one generated function — the (b)-tier of the custom-
  * operator ladder (expression > UDF). */
object StripAccentsUtil {
  def strip(s: UTF8String): UTF8String = {
    if (s == null) return null
    UTF8String.fromString(Cleaning.stripAccentsFn(s.toString))
  }
}

case class StripAccents(child: Expression)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    StripAccentsUtil.strip(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.StripAccentsUtil.strip($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : StripAccents = copy(child = newChild)

  override def prettyName: String = "strip_accents"
}

/** Native money parser (SURVEY F3): same decision tree as the
  * `parseMoney` UDF ([[Cleaning.parseMoneyFn]]) but as a Catalyst
  * expression whose codegen emits a static call — the hottest scalar
  * in the cleaning path stays inside whole-stage codegen. */
object ParseMoneyUtil {
  def parse(s: UTF8String): java.lang.Double =
    if (s == null) null
    else Cleaning.parseMoneyFn(s.toString) match {
      case Some(v) => java.lang.Double.valueOf(v)
      case None => null
    }
}

case class ParseMoney(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.DoubleType
  // parse can return null even for non-null input (junk strings)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val r = ParseMoneyUtil.parse(input.asInstanceOf[UTF8String])
    if (r == null) null else r.doubleValue()
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double r = graft.functions.ParseMoneyUtil.parse($c);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = r.doubleValue(); }""")
  override protected def withNewChildInternal(newChild: Expression)
      : ParseMoney = copy(child = newChild)
  override def prettyName: String = "parse_money"
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
  * Spark and DuckDB define identically on two's-complement BIGINT. */
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

/** `simhash64_native(array<bigint>)` → bigint: 64-bit SimHash of a
  * pre-hashed token array as ONE codegen'd call — replaces 64
  * higher-order folds in q59/q60/q83's signature stage. 64 bits (the
  * Manku et al., WWW'07 fingerprint width) rather than 32 so that
  * boilerplate-heavy corpora don't collapse onto a handful of
  * signatures — the round-8 ×256 scale probe measured 32-bit
  * signatures saturating their 2×16 band space past ~10⁵ distinct
  * signatures. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  override def nullSafeEval(input: Any): Any =
    SimHashUtil.simhash64(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimHashUtil.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression)
      : SimHash64 = copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Session extension registering the native functions, Spark's bloom
  * filter expressions, and the two planner strategies (as-of join,
  * per-group top-k); it injects no optimizer rule. Wire with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (the `graft.Sessions` recipe does); then
  * `expr("strip_accents_native(c)")` / `expr("parse_money_native(c)")`
  * resolve through the registry and codegen inline. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("strip_accents_native"),
      new ExpressionInfo(classOf[StripAccents].getName,
        "strip_accents_native"),
      (children: Seq[Expression]) => StripAccents(children.head)))
    ext.injectFunction((
      FunctionIdentifier("parse_money_native"),
      new ExpressionInfo(classOf[ParseMoney].getName,
        "parse_money_native"),
      (children: Seq[Expression]) => ParseMoney(children.head)))
    ext.injectFunction((
      FunctionIdentifier("simhash64_native"),
      new ExpressionInfo(classOf[SimHash64].getName,
        "simhash64_native"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("shingles3_native"),
      new ExpressionInfo(classOf[Shingles3].getName,
        "shingles3_native"),
      (children: Seq[Expression]) => Shingles3(children.head)))
    ext.injectFunction((
      FunctionIdentifier("fingerprint64_native"),
      new ExpressionInfo(classOf[Fingerprint64].getName,
        "fingerprint64_native"),
      (children: Seq[Expression]) => Fingerprint64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash4_native"),
      new ExpressionInfo(classOf[MinHash4].getName,
        "minhash4_native"),
      (children: Seq[Expression]) => MinHash4(children.head)))
    ext.injectFunction((
      FunctionIdentifier("winnow4_native"),
      new ExpressionInfo(classOf[Winnow4].getName,
        "winnow4_native"),
      (children: Seq[Expression]) => Winnow4(children.head)))
    ext.injectFunction((
      FunctionIdentifier("dot_f32_native"),
      new ExpressionInfo(classOf[DotProduct].getName,
        "dot_f32_native"),
      (children: Seq[Expression]) =>
        DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("l2sq_native"),
      new ExpressionInfo(classOf[L2Squared].getName,
        "l2sq_native"),
      (children: Seq[Expression]) =>
        L2Squared(children(0), children(1))))
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
