package graft.plans

import java.math.BigInteger

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exact decimal summation on 192-bit integer limbs.
  *
  * Spark's `sum` over a decimal column whose ACCUMULATOR precision
  * exceeds 18 digits runs every per-row add (and, for `sum(x*y)`,
  * every per-row multiply) through `java.math.BigDecimal` — an object
  * allocation and digit-array walk per row. That constant is the
  * dominant cost of the engine's exact-statistics aggregations (the
  * correlation report's five sufficient-statistic sums, the
  * perplexity families' per-position log-prob sums, BM25's per-term
  * decimal scores, the ADC serve's order-free score sums).
  *
  * These aggregates compute the IDENTICAL sums — exact integer
  * arithmetic on the decimals' unscaled values, accumulated in three
  * 64-bit limbs (±2⁹¹ ≈ 10⁵⁷·2, far past any value decimal(38) can
  * even express, so intermediate limb overflow is unreachable for any
  * input that Spark's own sum would not already overflow to null) —
  * as a [[DeclarativeAggregate]] whose update/merge are pure long
  * adds with explicit carry logic, fully inside whole-stage codegen
  * with map-side partial aggregation. The final limb triple converts
  * to a `Decimal` once per group.
  *
  * Parity contract (pinned by Decimal128Spec differentially against
  * `sum` on real corpus data and adversarial magnitudes):
  *  - result TYPE matches `Sum`: `DecimalType.bounded(p + 10, s)` for
  *    a decimal(p, s) child (for the product form, the child type is
  *    the multiply's result type first);
  *  - empty group / all-null input → null;
  *  - result overflow beyond the bounded precision → null in
  *    non-ANSI mode, `ArithmeticException` under ANSI (the
  *    `CheckOverflowInSum` contract), decided at evaluation;
  *  - null inputs are skipped exactly like `sum` (for the product
  *    form, a null in EITHER factor skips the row, exactly like
  *    `sum(x * y)` with null-propagating multiply).
  */
object Decimal128 {

  private val Mask64 = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)

  /** (lo, mid, hi) limbs → java BigInteger (signed, hi carries sign). */
  def limbsToBigInteger(lo: Long, mid: Long, hi: Long): BigInteger =
    BigInteger.valueOf(hi).shiftLeft(128)
      .add(BigInteger.valueOf(mid).and(Mask64).shiftLeft(64))
      .add(BigInteger.valueOf(lo).and(Mask64))

  /** Final conversion — shared by interpreted eval and codegen. */
  def limbsToDecimal(lo: Long, mid: Long, hi: Long, nonEmpty: Boolean,
                     precision: Int, scale: Int,
                     ansi: Boolean): Decimal = {
    if (!nonEmpty) return null
    val bd = new java.math.BigDecimal(limbsToBigInteger(lo, mid, hi), scale)
    val d = Decimal(bd)
    if (d.changePrecision(precision, scale)) d
    else if (ansi) throw new ArithmeticException(
      s"Decimal128 sum overflowed decimal($precision,$scale)")
    else null
  }

  /** Unscaled value of a decimal as a signed 128-bit (lo, hi) pair —
    * the BigInteger path for precision > 18 inputs (compact long-
    * backed decimals take the cheap [[Decimal#toUnscaledLong]] path
    * selected at plan time from the DECLARED precision).
    */
  def unscaledLoBig(d: Decimal): Long =
    d.toJavaBigDecimal.unscaledValue().longValue()
  def unscaledHiBig(d: Decimal): Long =
    d.toJavaBigDecimal.unscaledValue().shiftRight(64).longValue()
}

/** `a + b` on longs with Java wrap-around semantics — limb math must
  * not run through Catalyst's `Add`, whose ANSI mode throws on the
  * overflow the carry logic depends on.
  */
case class WrapAdd(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("WrapAdd needs long children")
  override def nullSafeEval(a: Any, b: Any): Any =
    a.asInstanceOf[Long] + b.asInstanceOf[Long]
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$a + $b")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WrapAdd =
    copy(left = newLeft, right = newRight)
}

/** `a * b` on longs with wrap-around (the low 64 bits of the
  * product).
  */
case class WrapMul(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("WrapMul needs long children")
  override def nullSafeEval(a: Any, b: Any): Any =
    a.asInstanceOf[Long] * b.asInstanceOf[Long]
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$a * $b")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WrapMul =
    copy(left = newLeft, right = newRight)
}

/** High 64 bits of the signed 128-bit product `a * b`
  * (`Math.multiplyHigh` — intrinsic on JDK 17).
  */
case class MulHigh(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("MulHigh needs long children")
  override def nullSafeEval(a: Any, b: Any): Any =
    Math.multiplyHigh(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"java.lang.Math.multiplyHigh($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MulHigh =
    copy(left = newLeft, right = newRight)
}

/** Carry-out (0 or 1) of the unsigned 64-bit addition `a + b` —
  * `((a & b) | ((a | b) & ~(a + b))) >>> 63`.
  */
case class CarryOut(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("CarryOut needs long children")
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long]; val y = b.asInstanceOf[Long]
    ((x & y) | ((x | y) & ~(x + y))) >>> 63
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"((($a & $b) | (($a | $b) & ~($a + $b))) >>> 63)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CarryOut =
    copy(left = newLeft, right = newRight)
}

/** Low/high 64 bits of a wide decimal's unscaled value. */
case class UnscaledLo(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Decimal128.unscaledLoBig(input.asInstanceOf[Decimal])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, d => s"graft.plans.Decimal128.unscaledLoBig($d)")
  override protected def withNewChildInternal(newChild: Expression)
      : UnscaledLo = copy(child = newChild)
}

case class UnscaledHi(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Decimal128.unscaledHiBig(input.asInstanceOf[Decimal])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, d => s"graft.plans.Decimal128.unscaledHiBig($d)")
  override protected def withNewChildInternal(newChild: Expression)
      : UnscaledHi = copy(child = newChild)
}

/** Limb triple + seen flag → bounded decimal (null / throw on
  * overflow per the captured ANSI mode) — the aggregate's evaluate.
  */
case class LimbsToDecimal(lo: Expression, mid: Expression, hi: Expression,
                          nonEmpty: Expression, precision: Int,
                          scale: Int, ansi: Boolean)
    extends Expression {
  override def children: Seq[Expression] = Seq(lo, mid, hi, nonEmpty)
  override def dataType: DataType = DecimalType(precision, scale)
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    Decimal128.limbsToDecimal(
      lo.eval(input).asInstanceOf[Long],
      mid.eval(input).asInstanceOf[Long],
      hi.eval(input).asInstanceOf[Long],
      nonEmpty.eval(input).asInstanceOf[Boolean],
      precision, scale, ansi)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    // runs ONCE PER GROUP in the aggregate's result projection; the
    // kernel call carries the whole conversion
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val l = lo.genCode(ctx); val m = mid.genCode(ctx)
    val h = hi.genCode(ctx); val ne = nonEmpty.genCode(ctx)
    val dec = ctx.freshName("dec")
    val call =
      s"graft.plans.Decimal128.limbsToDecimal(${l.value}, ${m.value}, " +
        s"${h.value}, ${ne.value}, $precision, $scale, $ansi);"
    ev.copy(code =
      code"""
        ${l.code}
        ${m.code}
        ${h.code}
        ${ne.code}
        org.apache.spark.sql.types.Decimal $dec = $call
        boolean ${ev.isNull} = ($dec == null);
        org.apache.spark.sql.types.Decimal ${ev.value} = $dec;
      """)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LimbsToDecimal =
    copy(lo = newChildren(0), mid = newChildren(1), hi = newChildren(2),
      nonEmpty = newChildren(3))
}

/** Shared limb plumbing of the two sum forms. */
abstract class LimbSumBase extends DeclarativeAggregate {
  protected def resultPrecision: Int
  protected def resultScale: Int
  // ANSI mode captured at plan time — same point Spark's Sum resolves
  // its overflow behavior
  protected val ansiEnabled: Boolean = SQLConf.get.ansiEnabled

  protected lazy val lo: AttributeReference =
    AttributeReference("lo", LongType, nullable = false)()
  protected lazy val mid: AttributeReference =
    AttributeReference("mid", LongType, nullable = false)()
  protected lazy val hi: AttributeReference =
    AttributeReference("hi", LongType, nullable = false)()
  protected lazy val seen: AttributeReference =
    AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(lo, mid, hi, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L), Literal(false))

  override def dataType: DataType =
    DecimalType(resultPrecision, resultScale)
  override def nullable: Boolean = true

  /** 192-bit add of the signed 128-bit input (inLo, inHi) into the
    * (lo, mid, hi) buffer: returns the three new limb expressions.
    */
  protected def add128(inLo: Expression,
                       inHi: Expression): (Expression, Expression, Expression) = {
    val newLo = WrapAdd(lo, inLo)
    val c0 = CarryOut(lo, inLo)
    val m1 = WrapAdd(mid, inHi)
    val c1 = CarryOut(mid, inHi)
    val newMid = WrapAdd(m1, c0)
    val c2 = CarryOut(m1, c0)
    // sign-extend the 128-bit input into the third limb, plus carry
    val ext = ShiftRight(inHi, Literal(63))
    val newHi = WrapAdd(WrapAdd(hi, ext), BitwiseOr(c1, c2))
    (newLo, newMid, newHi)
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val newLo = WrapAdd(lo.left, lo.right)
    val c0 = CarryOut(lo.left, lo.right)
    val m1 = WrapAdd(mid.left, mid.right)
    val c1 = CarryOut(mid.left, mid.right)
    val newMid = WrapAdd(m1, c0)
    val c2 = CarryOut(m1, c0)
    val newHi = WrapAdd(WrapAdd(hi.left, hi.right), BitwiseOr(c1, c2))
    Seq(newLo, newMid, newHi, Or(seen.left, seen.right))
  }

  override lazy val evaluateExpression: Expression =
    LimbsToDecimal(lo, mid, hi, seen, resultPrecision, resultScale,
      ansiEnabled)
}

/** Column API: `sum(c)` / `sum(x * y)` twins over pre-projected
  * unscaled limbs, plus the projections that produce them.
  */
object Decimal128Api {
  def mul_compact(x: Column, y: Column): Column =
    GraftSqlBridge.toColumn(MulCompactDecimal(
      GraftSqlBridge.toExpression(x), GraftSqlBridge.toExpression(y)))
  /** Unscaled long of a compact decimal (p <= 18) — the projection
    * column the long-input aggregates consume.
    */
  def unscaled(c: Column): Column =
    GraftSqlBridge.toColumn(UnscaledValue(GraftSqlBridge.toExpression(c)))
  /** Lo/hi limbs of a WIDE decimal's unscaled value (p > 18). */
  def unscaled_lo(c: Column): Column =
    GraftSqlBridge.toColumn(
      UnscaledLo(GraftSqlBridge.toExpression(c)))
  def unscaled_hi(c: Column): Column =
    GraftSqlBridge.toColumn(
      UnscaledHi(GraftSqlBridge.toExpression(c)))
  /** `sum` twin over a pre-projected COMPACT unscaled-long column:
    * result type/value identical to `sum` of the decimal(p, s) the
    * longs encode.
    */
  def sum128Long(lo: Column, p: Int, s: Int): Column = {
    val loE = GraftSqlBridge.toExpression(lo)
    GraftSqlBridge.toColumn(LimbSumLongs(loE,
      ShiftRight(loE, Literal(63)),
      math.min(p + 10, DecimalType.MAX_PRECISION), s)
      .toAggregateExpression())
  }
  /** `sum` twin over pre-projected WIDE limbs (lo + hi columns). */
  def sum128Wide(lo: Column, hi: Column, p: Int, s: Int): Column =
    GraftSqlBridge.toColumn(LimbSumLongs(
      GraftSqlBridge.toExpression(lo), GraftSqlBridge.toExpression(hi),
      math.min(p + 10, DecimalType.MAX_PRECISION), s)
      .toAggregateExpression())
  /** `sum(x * y)` twin over pre-projected compact unscaled longs of
    * the decimal(px, sx) / decimal(py, sy) factors.
    */
  def prodSum128Long(xu: Column, yu: Column,
                     px: Int, sx: Int, py: Int, sy: Int): Column =
    GraftSqlBridge.toColumn(ProdLimbSumLongs(
      GraftSqlBridge.toExpression(xu), GraftSqlBridge.toExpression(yu),
      math.min(px + py + 1 + 10, DecimalType.MAX_PRECISION), sx + sy)
      .toAggregateExpression())
}

/** Exact decimal multiply for COMPACT factors whose product precision
  * p1 + p2 + 1 stays within 18 digits — the unscaled product fits a
  * long, so the multiply is one integer instruction instead of the
  * BigDecimal path Spark's `Multiply` takes for every decimal.
  * Value parity with `x * y`: same result type (p1+p2+1, s1+s2) by
  * Spark's non-allow-precision-loss rule, exact product (a p1-digit
  * by p2-digit integer product has at most p1+p2 digits, so the
  * declared precision can never overflow), null-propagating.
  */
case class MulCompactDecimal(left: Expression, right: Expression)
    extends BinaryExpression {
  private lazy val lt = left.dataType.asInstanceOf[DecimalType]
  private lazy val rt = right.dataType.asInstanceOf[DecimalType]
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (a: DecimalType, b: DecimalType)
          if a.precision + b.precision + 1 <= Decimal.MAX_LONG_DIGITS =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"MulCompactDecimal needs decimal factors with product " +
          s"precision <= 18, got $a and $b")
    }
  override def dataType: DataType =
    DecimalType(lt.precision + rt.precision + 1, lt.scale + rt.scale)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Decimal]
    val y = b.asInstanceOf[Decimal]
    Decimal(x.toUnscaledLong * y.toUnscaledLong,
      lt.precision + rt.precision + 1, lt.scale + rt.scale)
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val p = lt.precision + rt.precision + 1
    val s = lt.scale + rt.scale
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.types.Decimal.apply(" +
        s"$a.toUnscaledLong() * $b.toUnscaledLong(), $p, $s)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MulCompactDecimal =
    copy(left = newLeft, right = newRight)
}

/** Exact `sum` over a PRE-PROJECTED unscaled representation:
  * `lo`/`hi` are long expressions carrying the input's signed 128-bit
  * unscaled value (for compact decimals: `UnscaledValue(dec)` and its
  * sign `ShiftRight(·, 63)` — cheap to re-evaluate per buffer slot
  * because they are bare column refs / single long ops after the
  * caller's projection). This exists because a DeclarativeAggregate
  * evaluates its children once per BUFFER SLOT: with four slots, an
  * expensive child (a double→decimal cast, a BigDecimal unscaled
  * extraction) would run 4× per row — the projection form makes the
  * per-slot cost a long read. A null `lo` skips the row.
  * Result identical to `sum` over the decimal the longs encode.
  */
case class LimbSumLongs(inLo: Expression, inHi: Expression,
                        rPrecision: Int, rScale: Int)
    extends LimbSumBase {
  override protected def resultPrecision: Int = rPrecision
  override protected def resultScale: Int = rScale
  override def children: Seq[Expression] = Seq(inLo, inHi)
  override lazy val updateExpressions: Seq[Expression] = {
    val (nl, nm, nh) = add128(inLo, inHi)
    val isNull = IsNull(inLo)
    Seq(
      If(isNull, lo, nl),
      If(isNull, mid, nm),
      If(isNull, hi, nh),
      Or(seen, IsNotNull(inLo)))
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LimbSumLongs =
    copy(inLo = newChildren(0), inHi = newChildren(1))
}

/** Exact `sum(x * y)` over pre-projected unscaled longs: the
  * factors' unscaled values arrive as long columns, the 128-bit
  * product is formed per slot with one long multiply + multiplyHigh.
  * A null in either factor skips the row. Result identical to
  * `sum(x * y)` over the decimals the longs encode.
  */
case class ProdLimbSumLongs(xu: Expression, yu: Expression,
                            rPrecision: Int, rScale: Int)
    extends LimbSumBase {
  override protected def resultPrecision: Int = rPrecision
  override protected def resultScale: Int = rScale
  override def children: Seq[Expression] = Seq(xu, yu)
  override lazy val updateExpressions: Seq[Expression] = {
    val pLo = WrapMul(xu, yu)
    val pHi = MulHigh(xu, yu)
    val (nl, nm, nh) = add128(pLo, pHi)
    val isNull = Or(IsNull(xu), IsNull(yu))
    Seq(
      If(isNull, lo, nl),
      If(isNull, mid, nm),
      If(isNull, hi, nh),
      Or(seen, Not(isNull)))
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ProdLimbSumLongs =
    copy(xu = newChildren(0), yu = newChildren(1))
}
