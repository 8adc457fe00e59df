package graft.functions

import java.math.{BigInteger, RoundingMode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The exact fixed-point sum kernel behind every exact-sum wire of
  * [[graft.Tables]] (`xsum`, `xsumD`, `dsum`, `sumE12`).
  *
  * Those wires are `sum(CAST(x AS DECIMAL(p, s)))`, which Spark runs as
  * `Double.toString` → BigDecimal → rescale, then a BigDecimal add, for
  * every row. The kernel computes the same integers with primitive
  * arithmetic and sums them in a 128-bit buffer, so the wire's result type,
  * value and error conditions stay those of the cast-and-sum.
  *
  * Conversion contract. Spark's cast of a double is `Decimal(d)`, i.e. the
  * `Double.toString` digits, rounded HALF_UP at scale s. Those digits parse
  * back to d, so they lie within half an ulp of d. [[Fixed.fast]] computes
  * the exact value d·10^s from d's mantissa and exponent and rounds it; it
  * answers only when that value is more than one ulp·10^s away from a
  * rounding tie, where the digits and the binary value must round the same
  * way. Everything else falls back to Spark's own cast: NaN and ±∞, every
  * |d| whose ulp is at least 10^−s, and values within the tie window.
  */
object Fixed {
  /** What [[fast]] returns when it cannot decide. Never a fast result:
    * those are below 2⁵³ in magnitude. */
  final val Slow: Long = Long.MinValue

  /** The hi lane of a buffer whose sum has left the DECIMAL(P, s) range.
    * No in-range sum has it: |hi| < 10³⁸ / 2⁶⁴ < 2⁶³. */
  final val Overflow: Long = Long.MinValue

  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)
  // the smallest q with 2^q > 10^s: below it ulp·10^s ≥ 1
  private val MinShift: Array[Int] =
    Pow10.map(t => 64 - java.lang.Long.numberOfLeadingZeros(t))
  // 10^P as (hi, lo) for the range check, P in 0..38
  private val BoundHi: Array[Long] =
    Array.tabulate(39)(p => BigInteger.TEN.pow(p).shiftRight(64).longValue)
  private val BoundLo: Array[Long] = Array.tabulate(39)(p => BigInteger.TEN.pow(p).longValue)
  private val Mask64: BigInteger = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)

  /** round_half_up(d·10^s) when the fast path decides it, else [[Slow]].
    * `s` is in 0..18. */
  def fast(d: Double, s: Int): Long = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val be = ((bits >>> 52) & 0x7ff).toInt
    if (be == 0x7ff) return Slow
    var m = bits & 0xfffffffffffffL
    // d = ±m·2^−q; a subnormal keeps q = 1074
    val q =
      if (be == 0) { if (m == 0) return 0L; 1074 }
      else { m |= 1L << 52; 1075 - be }
    if (q < MinShift(s)) return Slow
    // |d·10^s| < 2^113 / 2^127: below one half, and ≥ 2^125 from the tie
    if (q >= 127) return 0L
    val t = Pow10(s)
    // P = m·10^s = ph:pl < 2^113; d·10^s = P / 2^q < 2^53
    val ph = Math.multiplyHigh(m, t)
    val pl = m * t
    val n = if (q < 64) (ph << (64 - q)) | (pl >>> q) else ph >>> (q - 64)
    // r = P mod 2^q, h = 2^(q−1): the remainder of the tie
    val rh = if (q <= 64) 0L else ph & ((1L << (q - 64)) - 1)
    val rl = if (q < 64) pl & ((1L << q) - 1) else pl
    val hh = if (q <= 64) 0L else 1L << (q - 65)
    val hl = if (q <= 64) 1L << (q - 1) else 0L
    // e = r − h as a signed 128-bit value; the tie window is |e| ≤ t
    val el = rl - hl
    val eh = rh - hh - (if (java.lang.Long.compareUnsigned(rl, hl) < 0) 1L else 0L)
    val up = eh > 0 || (eh == 0 && java.lang.Long.compareUnsigned(el, t) > 0)
    val down = eh < -1 || (eh == -1 && java.lang.Long.compareUnsigned(el, -t) < 0)
    if (!up && !down) return Slow
    val v = if (up) n + 1 else n
    if (bits < 0) -v else v
  }

  /** The unscaled integer of `CAST(d AS DECIMAL(p, s))`, that is
    * `BigDecimal.valueOf(d).setScale(s, HALF_UP)`, for `s` in 0..18. Raises
    * NumberFormatException on NaN and ±∞ and ArithmeticException when the
    * integer does not fit a long. */
  def scaled(d: Double, s: Int): Long = {
    val v = fast(d, s)
    if (v != Slow) v
    else java.math.BigDecimal.valueOf(d).setScale(s, RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }

  // ---- the aggregate's lanes, called from generated code ----------------

  private val casts =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Boolean), Expression]()

  /** Spark's own cast of a double to DECIMAL(p, s): the fallback, so its
    * rounding, overflow and NaN handling are the cast's by construction. */
  private def cast(d: Double, p: Int, s: Int, ansi: Boolean): Decimal =
    casts.computeIfAbsent((p, s, ansi), _ => Cast(BoundReference(0, DoubleType, nullable = false),
      DecimalType(p, s), None, if (ansi) EvalMode.ANSI else EvalMode.LEGACY))
      .eval(InternalRow(d)).asInstanceOf[Decimal]

  /** The last row value a thread sent to the cast, and what it gave: the
    * three lanes of one row ask for the same value in turn. */
  private final class Last {
    var bits = 0L; var key = -1; var present = false; var hi = 0L; var lo = 0L
  }
  private val last = ThreadLocal.withInitial[Last](() => new Last)

  /** The row value's addend via the cast. `present` is false where the
    * cast gives null (NaN, ±∞, or an overflow outside ANSI mode): the row
    * is skipped, as by sum. */
  private def slow(d: Double, p: Int, s: Int, ansi: Boolean): Last = {
    val l = last.get()
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val key = (p << 6 | s) << 1 | (if (ansi) 1 else 0)
    if (l.key != key || l.bits != bits) {
      val dec = cast(d, p, s, ansi)
      if (dec == null) { l.present = false; l.hi = 0L; l.lo = 0L }
      else {
        val u = dec.toJavaBigDecimal.unscaledValue()
        l.present = true; l.hi = u.shiftRight(64).longValue; l.lo = u.longValue
      }
      l.bits = bits; l.key = key
    }
    l
  }

  /** The hi lane after adding `n` copies of the row value `d` to (hi, lo)
    * as one product (n = 1 for a row sum): [[Overflow]] when the product
    * leaves the DECIMAL(rp, s) range, as the n-row partial sum it stands
    * for does, or when the sum does. */
  def addHi(hi: Long, lo: Long, d: Double, n: Long, p: Int, s: Int, ansi: Boolean,
      rp: Int): Long =
    if (hi == Overflow) Overflow
    else {
      val v = fast(d, s)
      if (v != Slow) times(hi, lo, Math.multiplyHigh(v, n), v * n, rp)
      else {
        val l = slow(d, p, s, ansi)
        if (!l.present) hi
        else {
          val u = BigInteger.valueOf(l.hi).shiftLeft(64)
            .add(BigInteger.valueOf(l.lo).and(Mask64)).multiply(BigInteger.valueOf(n))
          if (u.bitLength > 127) Overflow
          else times(hi, lo, u.shiftRight(64).longValue, u.longValue, rp)
        }
      }
    }

  /** The lo lane after adding `n` copies of the row value `d`: the
    * product's low 64 bits are the addend's lo lane times n. */
  def addLo(lo: Long, d: Double, n: Long, p: Int, s: Int, ansi: Boolean): Long = {
    val v = fast(d, s)
    if (v != Slow) lo + v * n else lo + slow(d, p, s, ansi).lo * n
  }

  /** hi of (hi, lo) + the product (ph, pl), once the product alone is in
    * range. */
  private def times(hi: Long, lo: Long, ph: Long, pl: Long, rp: Int): Long =
    if (carry(0L, 0L, ph, pl, rp) == Overflow) Overflow else carry(hi, lo, ph, pl, rp)

  /** Whether the row value `d` takes part in the sum. */
  def present(d: Double, p: Int, s: Int, ansi: Boolean): Boolean =
    fast(d, s) != Slow || slow(d, p, s, ansi).present

  /** The hi lane of (ah, al) + (bh, bl). */
  def mergeHi(ah: Long, al: Long, bh: Long, bl: Long, rp: Int): Long =
    if (ah == Overflow || bh == Overflow) Overflow else carry(ah, al, bh, bl, rp)

  /** hi of (ah, al) + (bh, bl) with the carry out of the unsigned lo lane;
    * an overflow-checked add, then the range check: [[Overflow]] when the
    * sum needs more than 127 bits or reaches ±10^rp. */
  private def carry(ah: Long, al: Long, bh: Long, bl: Long, rp: Int): Long = {
    val l = al + bl
    val c = if (java.lang.Long.compareUnsigned(l, al) < 0) 1L else 0L
    val b = bh + c // |bh| < 2^63 − 1: no wrap
    val h = ah + b
    if (((ah ^ h) & (b ^ h)) < 0) Overflow
    else {
      val th = BoundHi(rp)
      val tl = BoundLo(rp)
      // in range iff −10^rp < (h, l) < 10^rp
      val belowTop = h < th || (h == th && java.lang.Long.compareUnsigned(l, tl) < 0)
      val nh = ~th + (if (tl == 0) 1L else 0L)
      val nl = -tl
      val aboveBottom = h > nh || (h == nh && java.lang.Long.compareUnsigned(l, nl) > 0)
      if (belowTop && aboveBottom) h else Overflow
    }
  }

  /** The buffer's value at scale s, or null once it has overflowed. */
  def value(hi: Long, lo: Long, s: Int): Decimal =
    if (hi == Overflow) null
    else {
      val u = BigInteger.valueOf(hi).shiftLeft(64).add(BigInteger.valueOf(lo).and(Mask64))
      Decimal(new java.math.BigDecimal(u, s))
    }

  /** `sum(x.cast(t))`: the aggregate Spark builds for it, named like it,
    * with a DOUBLE `x` summed by [[FixedSum]]. */
  def sum(x: Column, t: DecimalType): Column =
    GraftBridge.column(ExactSum(GraftBridge.expression(x), t).toAggregateExpression())

  /** [[sum]] with each row counted `n` times (a LONG count, as a cell
    * histogram holds it): the value, type and error conditions of
    * `sum(x.cast(t))` over every row repeated n times. Only a DOUBLE `x`
    * has this form; any other input fails analysis. */
  def sum(x: Column, t: DecimalType, n: Column): Column = {
    require(t.scale <= 18, s"no weighted exact sum at scale ${t.scale}")
    GraftBridge.column(FixedSum(GraftBridge.expression(x), t.precision, t.scale,
      SQLConf.get.ansiEnabled, Some(GraftBridge.expression(n))).toAggregateExpression())
  }
}

/** `sum(CAST(child AS t))`, typed and named like Spark's, with the cast and
  * the sum in the session's ANSI mode at construction (as Spark builds
  * them). A DOUBLE `child` with t's scale ≤ 18 runs as [[FixedSum]]; any
  * other input runs as Spark's `Sum` over the cast. The cast is not a
  * child, so a window keeps the DOUBLE input when it pulls its aggregates'
  * inputs into a projection. */
case class ExactSum(child: Expression, t: DecimalType, ansi: Boolean = SQLConf.get.ansiEnabled)
    extends AggregateFunction with RuntimeReplaceableAggregate with UnaryLike[Expression] {
  private def mode = if (ansi) EvalMode.ANSI else EvalMode.LEGACY
  override def prettyName: String = "sum"
  override def sql(isDistinct: Boolean): String =
    s"$prettyName(${Cast(child, t, None, mode).sql})"
  override lazy val replacement: Expression =
    if (child.dataType == DoubleType && t.scale <= 18) FixedSum(child, t.precision, t.scale, ansi)
    else Sum(Cast(child, t, Some(SQLConf.get.sessionLocalTimeZone), mode), NumericEvalContext(mode))
  override protected def withNewChildInternal(c: Expression): ExactSum = copy(child = c)
}

/** Σ CAST(child AS DECIMAL(p, s)) over a DOUBLE `child`, with Spark's
  * DECIMAL(min(p + 10, 38), s) result. Per row, [[Fixed.fast]] gives the
  * cast's unscaled integer (else the cast itself runs); the buffer holds
  * the running sum as a 128-bit integer, a signed hi lane over an unsigned
  * lo lane with an explicit carry, plus a non-empty flag. The hi lane's add
  * is overflow-checked and every add is range-checked, so the buffer never
  * wraps: a sum that leaves the DECIMAL(38, s) range (DECIMAL(28, 4) for
  * DECIMAL(18, 4) input) marks the buffer, and the result then raises
  * Spark's sum-overflow error (null outside ANSI mode), as a grouped sum
  * does. An all-null or empty input gives null. Outside ANSI mode (`ansi`
  * false) a row whose cast overflows is skipped and an overflowing sum
  * gives null, as with the cast-and-sum.
  *
  * With a `weight` (a LONG child, [[Fixed.sum]]'s `n`) each row adds its
  * addend times n as one checked product, so the result is the sum over
  * each row repeated n times: a product outside the result's range
  * overflows as the n-row partial sum would. The weight is a count
  * (n ≥ 1); a row whose value or weight is null is skipped. Without a
  * weight every row counts once: the same lanes with n = 1. */
case class FixedSum(child: Expression, p: Int, s: Int, ansi: Boolean,
    weight: Option[Expression] = None) extends DeclarativeAggregate {
  private lazy val resultType = DecimalType(math.min(p + 10, DecimalType.MAX_PRECISION), s)
  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override def prettyName: String = "fixed_sum"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  /** A call of the [[Fixed]] method `fn`; only `value` returns null. */
  private def call(t: DataType, fn: String, args: Expression*): Expression =
    StaticInvoke(Fixed.getClass, t, fn, args, propagateNull = false,
      returnNullable = fn == "value")

  override def children: Seq[Expression] = child +: weight.toSeq

  override def checkInputDataTypes(): TypeCheckResult = weight match {
    case Some(w) if child.dataType != DoubleType || w.dataType != LongType =>
      TypeCheckResult.TypeCheckFailure(
        s"a weighted exact sum needs a DOUBLE value and a BIGINT weight, " +
          s"not ${child.dataType.sql} and ${w.dataType.sql}")
    case _ => TypeCheckResult.TypeCheckSuccess
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val x = KnownNotNull(child)
    val nulls = children.filter(_.nullable).map(IsNull(_): Expression)
    def skipNull(keep: Expression, add: Expression) =
      if (nulls.isEmpty) add else If(nulls.reduce(Or), keep, add)
    val (pe, se, mode, rp) =
      (Literal(p), Literal(s), Literal(ansi), Literal(resultType.precision))
    val n = weight.fold[Expression](Literal(1L))(KnownNotNull(_))
    Seq(
      skipNull(hi, call(LongType, "addHi", hi, lo, x, n, pe, se, mode, rp)),
      skipNull(lo, call(LongType, "addLo", lo, x, n, pe, se, mode)),
      skipNull(seen, Or(seen, call(BooleanType, "present", x, pe, se, mode))))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    call(LongType, "mergeHi", hi.left, lo.left, hi.right, lo.right, Literal(resultType.precision)),
    Add(lo.left, lo.right, NumericEvalContext(EvalMode.LEGACY)),
    Or(seen.left, seen.right))

  override lazy val evaluateExpression: Expression = If(seen,
    CheckOverflowInSum(call(DecimalType(38, s), "value", hi, lo, Literal(s)),
      resultType, !ansi, null),
    Literal.create(null, resultType))

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): FixedSum =
    copy(child = cs.head, weight = weight.map(_ => cs(1)))
}
