package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native array/text kernels for the hot paths of the dedup and
  * similarity operators. Each is value-identical to a composition of
  * built-in higher-order functions (documented per class) but runs as a
  * single tight loop instead of a per-element interpreted lambda tree —
  * the HOF formulations cost ~10µs per element; these are ~10ns.
  *
  * All participate in whole-stage codegen via a static `compute` call
  * (same pattern as [[MinHashSignature]]).
  */

/** Word n-gram shingles over a token array, joined with a single space.
  * Value-identical to
  * `transform(sequence(1, size(t)-n+1), i -> concat_ws(' ', slice(t, i, n)))`
  * (empty array when size < n). */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    WordShingles.compute(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cls = WordShingles.getClass.getName.stripSuffix("$") + "$"
      s"${ev.value} = $cls.MODULE$$.compute($c, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val space = UTF8String.fromString(" ")

  def compute(toks: ArrayData, n: Int): ArrayData = {
    val sz = toks.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](sz - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i <= sz - n) {
      var j = 0
      while (j < n) { window(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Character n-grams of a string (SQL substring semantics: by code
  * point). Value-identical to
  * `transform(sequence(1, length(s)-n+1), i -> substring(s, i, n))`
  * (empty array when length < n). */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"ngram width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    CharNgrams.compute(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cls = CharNgrams.getClass.getName.stripSuffix("$") + "$"
      s"${ev.value} = $cls.MODULE$$.compute($c, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgrams {
  def compute(s: UTF8String, n: Int): ArrayData = {
    val len = s.numChars()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i <= len - n) {
      // substringSQL is 1-based and code-point-aware, matching substring()
      out(i) = s.substringSQL(i + 1, n)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Double dot product of two equal-length arrays, summed left to right.
  * Value-identical to
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)`:
  * length mismatch or a null element yields NULL (zip_with pads the
  * shorter side with nulls, and null poisons the running sum). */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    ArrayDot.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = ArrayDot.getClass.getName.stripSuffix("$") + "$"
      // freshName defends against same-scope reuse when several kernel
      // instances land in one generated function
      val r = ctx.freshName("dotRes")
      s"""Object $r = $cls.MODULE$$.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Double) $r).doubleValue(); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayDot {
  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Size of the intersection of two sorted, duplicate-free string
  * arrays, by one merge walk. Value-identical to
  * `size(array_intersect(a, b))` when both inputs come from
  * `array_sort(array_distinct(...))` and hold no null element (null
  * elements are skipped, never counted). Elements compare as
  * [[UTF8String]] does, unsigned byte by byte over the UTF-8 encoding
  * — the order `array_sort` leaves them in, which is NOT the UTF-16
  * order of `java.lang.String` outside the BMP. Reads the bytes in
  * place: an unsafe array (any row out of a join, shuffle or
  * aggregate) or a generic one costs no allocation per element. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedIntersectCount.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = SortedIntersectCount.getClass.getName.stripSuffix("$") + "$"
      s"${ev.value} = $cls.MODULE$$.compute($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  private val littleEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  /** Where element `i` of a string array lives: (`base`, `off`, `len`)
    * as [[UTF8String]] addresses its bytes. An [[UnsafeArrayData]]
    * slot is read directly (its `getUTF8String` would allocate a
    * wrapper per call); other layouts go through `getUTF8String`,
    * which a generic array answers with the string it holds. */
  private final class Cursor(d: ArrayData) {
    val n: Int = d.numElements()
    private val u = d match { case x: UnsafeArrayData => x; case _ => null }
    private val slots =
      if (u == null) 0L
      else u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(n)
    var base: AnyRef = _
    var off = 0L
    var len = 0

    def isNull(i: Int): Boolean = d.isNullAt(i)

    def load(i: Int): Unit =
      if (u != null) {
        val offsetAndSize = Platform.getLong(u.getBaseObject, slots + 8L * i)
        base = u.getBaseObject
        off = u.getBaseOffset + (offsetAndSize >> 32)
        len = offsetAndSize.toInt
      } else {
        val s = d.getUTF8String(i)
        base = s.getBaseObject
        off = s.getBaseOffset
        len = s.numBytes()
      }
  }

  /** `UTF8String.binaryCompare` over two byte ranges: eight bytes at a
    * time as unsigned big-endian words, then the tail, then length. */
  private def compareBytes(a: Cursor, b: Cursor): Int = {
    val len = math.min(a.len, b.len)
    var k = 0
    while (k + 8 <= len) {
      val x = Platform.getLong(a.base, a.off + k)
      val y = Platform.getLong(b.base, b.off + k)
      if (x != y) return (
        if (littleEndian) java.lang.Long.compareUnsigned(
          java.lang.Long.reverseBytes(x), java.lang.Long.reverseBytes(y))
        else java.lang.Long.compareUnsigned(x, y))
      k += 8
    }
    while (k < len) {
      val c = (Platform.getByte(a.base, a.off + k) & 0xff) -
        (Platform.getByte(b.base, b.off + k) & 0xff)
      if (c != 0) return c
      k += 1
    }
    a.len - b.len
  }

  def compute(a: ArrayData, b: ArrayData): Long = {
    val ca = new Cursor(a)
    val cb = new Cursor(b)
    var i = 0
    var j = 0
    var loadedI = -1
    var loadedJ = -1
    var n = 0L
    while (i < ca.n && j < cb.n) {
      if (ca.isNull(i)) i += 1
      else if (cb.isNull(j)) j += 1
      else {
        if (loadedI != i) { ca.load(i); loadedI = i }
        if (loadedJ != j) { cb.load(j); loadedJ = j }
        val c = compareBytes(ca, cb)
        if (c == 0) { n += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    n
  }
}

/** Exact quantized dot product: Σ round(a_i·1e7)·round(b_i·1e7) in
  * 64-bit integer arithmetic. Value-identical to
  * `aggregate(zip_with(a, b, (x,y) -> round(x*1e7)::long * round(y*1e7)::long), 0L, +)`
  * — rounding replicates Spark's `Round` on doubles exactly
  * (java.math.BigDecimal.valueOf → setScale(0, HALF_UP)), which is also
  * DuckDB's round, so results are engine-portable and independent of
  * accumulation order. */
case class ArrayQuantDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    ArrayQuantDot.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = ArrayQuantDot.getClass.getName.stripSuffix("$") + "$"
      val r = ctx.freshName("qdotRes") // see ArrayDot
      s"""Object $r = $cls.MODULE$$.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $r).longValue(); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayQuantDot {
  /** Spark's Round(HALF_UP) on a double, then the integral cast to
    * long — computed as sign·Math.round(|x·1e7|), which is provably
    * identical to the BigDecimal(HALF_UP) path for |x·1e7| < 2^52:
    * half-integer boundaries are exactly representable there, so the
    * shortest-decimal representation BigDecimal.valueOf rounds is on
    * the same side of every .5 boundary as the binary value, and
    * Math.round (floor(y+0.5) with the JDK7+ boundary fix) rounds
    * ties up = away from zero for the positive magnitude. ~100×
    * cheaper than a BigDecimal allocation per element. */
  private[graft] def q(x: Double): Long = {
    val y = x * 1e7
    if (y >= 0) Math.round(y) else -Math.round(-y)
  }

  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += q(a.getDouble(i)) * q(b.getDouble(i))
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}

/** Sign signature over `planes` deterministic LCG-mix hyperplanes (the
  * blocking key of [[graft.operators.Similarity.cosineNearDupes]]).
  * Integer-exact: components quantize to round(x·1e7) (HALF_UP, same
  * as [[ArrayQuantDot]]), plane components are
  * ((1103515245·(p·dims+i) + 12345) mod 2001) − 1000, and the per-plane
  * accumulation is 64-bit integer arithmetic — so the signature is
  * reproducible in ANY engine, independent of accumulation order
  * (|xq·mix| ≤ 1e10, dims·1e10 ≪ 2^63). Bit p = (Σ > 0). */
case class SignSignature(child: Expression, planes: Int)
    extends UnaryExpression {

  require(planes >= 1 && planes <= 64, s"planes must be in [1,64], got $planes")
  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    SignSignature.compute(v.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cls = SignSignature.getClass.getName.stripSuffix("$") + "$"
      s"${ev.value} = $cls.MODULE$$.compute($c, $planes);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignSignature {
  /** Same quantizer as [[ArrayQuantDot.q]]. */
  private def q(x: Double): Long = ArrayQuantDot.q(x)

  def compute(vec: ArrayData, planes: Int): UTF8String = {
    val dims = vec.numElements()
    val xq = new Array[Long](dims)
    var i = 0
    while (i < dims) { xq(i) = q(vec.getDouble(i)); i += 1 }
    val bits = new Array[Char](planes)
    var p = 0
    while (p < planes) {
      var acc = 0L
      i = 0
      while (i < dims) {
        val mix = (1103515245L * (p.toLong * dims + i) + 12345L) % 2001L - 1000L
        acc += xq(i) * mix
        i += 1
      }
      bits(p) = if (acc > 0) '1' else '0'
      p += 1
    }
    UTF8String.fromString(new String(bits))
  }
}

/** Integer dot product over two array<long> columns (e.g. int8-quantized
  * signatures). Value-identical to
  * `aggregate(zip_with(a, b, (x, y) -> x*y), 0L, (acc, z) -> acc + z)`
  * — the HOF tree this replaces on the ANN coarse-scan hot path. */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    LongArrayDot.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = LongArrayDot.getClass.getName.stripSuffix("$") + "$"
      val r = ctx.freshName("ldotRes") // see ArrayDot
      s"""Object $r = $cls.MODULE$$.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $r).longValue(); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LongArrayDot {
  def compute(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}
