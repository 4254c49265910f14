package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, BinaryExpression, BoundReference, Cast, CheckOverflowInSum,
  EvalMode, Expression, If, IsNull, LeafExpression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{
  DataType, Decimal, DecimalType, DoubleType, LongType, NumericType}

/** Exact, order-independent money sum behind
  * [[graft.operators.Relational.sumMoney]]: bit for bit the double of
  * Spark's `decimal(28,s)` sum of each row's `decimal(18,s)` cast — the
  * same nulls, the same rounding of every row, the same overflow null or
  * error — without that form's per-row costs (a `Double.toString`, a
  * `BigDecimal` and an add into a 28-digit decimal buffer that `UnsafeRow`
  * keeps as `BigInteger` bytes).
  *
  * Each row becomes the unscaled `long` of its `decimal(18,s)` cast
  * ([[MoneyUnits]]), added into two `long` buffers: a 31-bit low limb
  * `lo` and a signed high limb `hi`, so the running total is
  * `hi·2^31 + lo` ([[LimbAdd]]). Both limbs are renormalised on every
  * update and merge and the total is range-checked there too, so no limb
  * can overflow before the total leaves `decimal(28,s)`. The buffers are
  * primitive, so the aggregate stays in the codegen'd `HashAggregate`.
  *
  * Buffer states: `lo` null — nothing summed yet (the result is null);
  * `hi` null with `lo` set — the total left `decimal(28,s)` (overflow
  * sticks, as in `Sum`'s decimal buffer). The result goes through
  * Spark's own `CheckOverflowInSum` and decimal → double cast, so
  * overflow raises `Sum`'s error under ANSI and is null otherwise.
  */
case class ExactMoneySum(
    child: Expression,
    scale: Int,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sum_money"

  override def checkInputDataTypes(): TypeCheckResult = units.checkInputDataTypes()

  private lazy val units = MoneyUnits(child, scale, evalMode)
  private lazy val total = DecimalType(MoneyUnits.Precision + 10, scale)

  private lazy val lo = AttributeReference("lo", LongType)()
  private lazy val hi = AttributeReference("hi", LongType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(lo, hi)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(null, LongType), Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    LimbAdd(lo, hi, units, Literal(0L), high = false),
    LimbAdd(lo, hi, units, Literal(0L), high = true))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    LimbAdd(lo.left, hi.left, lo.right, hi.right, high = false),
    LimbAdd(lo.left, hi.left, lo.right, hi.right, high = true))

  override lazy val evaluateExpression: Expression = Cast(
    If(IsNull(lo), Literal.create(null, total),
      CheckOverflowInSum(LimbTotal(lo, hi, total), total,
        evalMode != EvalMode.ANSI, null)),
    DoubleType)

  override protected def withNewChildInternal(newChild: Expression): ExactMoneySum =
    copy(child = newChild)
}

/** The unscaled `long` of `cast(x as decimal(18,s))` under `evalMode`.
  *
  * For a double, `v = x·10^s` is rounded directly when `|v| < 2^40` and
  * its fraction lies more than 2^-10 from .5. Spark's cast rounds
  * (half up) the shortest decimal string of `x`, which is within half
  * an ulp of `x`; with the rounding of the product that puts it within
  * 1.5 ulp(v) ≤ 1.5·2^-13 of `v`, so both round to the same integer.
  * Every other row — near-ties, large values, NaN, ±Inf, non-double
  * inputs — goes through Spark's own `Cast`, so its result, null or
  * error is the cast's by construction.
  */
case class MoneyUnits(child: Expression, scale: Int, evalMode: EvalMode.Value)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType if scale >= 0 && scale <= MoneyUnits.Precision =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a numeric input and a scale in 0..18, got " +
        s"${other.simpleString} at scale $scale")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "money_units"

  private def target = DecimalType(MoneyUnits.Precision, scale)
  private def isDouble = child.dataType == DoubleType
  private lazy val pow10 = math.pow(10, scale)

  @transient private lazy val slowCast =
    Cast(BoundReference(0, child.dataType, nullable = false), target, None, evalMode)

  override def nullSafeEval(x: Any): Any = {
    val fast = if (isDouble) MoneyUnits.fastUnits(x.asInstanceOf[Double], pow10)
      else MoneyUnits.NoFast
    if (fast != MoneyUnits.NoFast) fast
    else slowCast.eval(InternalRow(x)) match {
      case null => null
      case d: Decimal => d.toUnscaledLong
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val x = ctx.freshName("x")
    val slow = Cast(JavaValue(x, child.dataType), target, None, evalMode).genCode(ctx)
    val slowCode =
      s"""${slow.code}
         |${ev.isNull} = ${slow.isNull};
         |if (!${ev.isNull}) { ${ev.value} = ${slow.value}.toUnscaledLong(); }""".stripMargin
    val body = if (isDouble) {
      val cls = MoneyUnits.getClass.getName.stripSuffix("$")
      s"""${ev.value} = $cls.fastUnits($x, ${pow10}d);
         |if (${ev.value} == ${MoneyUnits.NoFast}L) {
         |  $slowCode
         |}""".stripMargin
    } else slowCode
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull};
      |long ${ev.value} = -1L;
      |if (!${ev.isNull}) {
      |  ${CodeGenerator.javaType(child.dataType)} $x = ${c.value};
      |  $body
      |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MoneyUnits =
    copy(child = newChild)
}

object MoneyUnits {
  /** Digits of the per-row cast: `decimal(18,s)` keeps a row's units in a long. */
  val Precision = 18

  /** [[fastUnits]]'s answer for a value it leaves to the cast: never a
    * real result, which is below 2^40 in magnitude. */
  val NoFast: Long = Long.MinValue

  private val FastLimit = 1099511627776.0 // 2^40
  private val TieMargin = 1.0 / 1024      // 2^-10

  /** `rint(x·pow10)` when that provably equals the cast's rounding, else [[NoFast]]. */
  def fastUnits(x: Double, pow10: Double): Long = {
    val v = x * pow10
    if (math.abs(v) < FastLimit && math.abs(v - math.floor(v) - 0.5) > TieMargin)
      math.rint(v).toLong
    else NoFast
  }
}

/** A Java local that already holds a value: lets [[MoneyUnits]] emit
  * Spark's cast code over the input it has evaluated once. Codegen only. */
private case class JavaValue(name: String, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    throw new UnsupportedOperationException(s"$name is a codegen-only value")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode(FalseLiteral, JavaCode.variable(name, dataType))
}

/** One limb of `(hi·2^31 + lo) + (addHi·2^31 + addLo)`, renormalised so
  * the new `lo` is in [0, 2^31). A null `addLo` adds nothing (a null row,
  * or an empty partial); a null `lo` is an empty buffer, taken as 0. The
  * new `hi` is null — overflow — when either side had overflowed or the
  * total reaches ±10^28 ([[MoneyLimbs.high]]). `addLo` may be any long
  * below 2^62 in magnitude, so an update adds a row's units directly. */
case class LimbAdd(lo: Expression, hi: Expression, addLo: Expression,
    addHi: Expression, high: Boolean) extends Expression {

  override def children: Seq[Expression] = Seq(lo, hi, addLo, addHi)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val a = addLo.eval(input)
    val mine = if (high) hi else lo
    if (a == null) return mine.eval(input)
    val l = lo.eval(input)
    val t = (if (l == null) 0L else l.asInstanceOf[Long]) + a.asInstanceOf[Long]
    if (!high) return t & MoneyLimbs.Mask
    val h = if (l == null) 0L else hi.eval(input)
    val ah = addHi.eval(input)
    if (h == null || ah == null) null
    else {
      val r = MoneyLimbs.high(t, h.asInstanceOf[Long], ah.asInstanceOf[Long])
      if (r == MoneyLimbs.Overflow) null else r
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(l, h, a, ah) = children.map(_.genCode(ctx))
    val t = ctx.freshName("t")
    val mine = if (high) h else l
    val cls = MoneyLimbs.getClass.getName.stripSuffix("$")
    val add = if (!high) s"${ev.value} = $t & ${MoneyLimbs.Mask}L;"
      else s"""if (!${l.isNull} && ${h.isNull} || ${ah.isNull}) {
              |  ${ev.isNull} = true;
              |} else {
              |  ${ev.value} = $cls.high($t, ${l.isNull} ? 0L : ${h.value}, ${ah.value});
              |  ${ev.isNull} = ${ev.value} == ${MoneyLimbs.Overflow}L;
              |}""".stripMargin
    ev.copy(code = code"""
      |${l.code}
      |${h.code}
      |${a.code}
      |${ah.code}
      |boolean ${ev.isNull} = false;
      |long ${ev.value} = 0L;
      |if (${a.isNull}) {
      |  ${ev.isNull} = ${mine.isNull};
      |  ${ev.value} = ${mine.value};
      |} else {
      |  long $t = (${l.isNull} ? 0L : ${l.value}) + ${a.value};
      |  $add
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = {
    val Seq(l, h, a, ah) = newChildren
    copy(lo = l, hi = h, addLo = a, addHi = ah)
  }
}

object MoneyLimbs {
  val Bits = 31
  val Mask: Long = (1L << Bits) - 1

  /** [[high]]'s answer for a total outside `decimal(28,s)`: never a real
    * high limb, which stays below 10^28/2^31 < 2^63 in magnitude. */
  val Overflow: Long = Long.MinValue

  // ±10^28 as (high limb, low limb): the first totals that overflow
  private val Limit = BigInt(10).pow(28)
  private val PosHi = (Limit >> Bits).toLong
  private val PosLo = (Limit & Mask).toLong
  private val NegHi = (-Limit >> Bits).toLong
  private val NegLo = (-Limit & Mask).toLong

  /** The high limb of `hi·2^31 + addHi·2^31 + t`, where `t` is the sum of
    * the low limbs before renormalising; [[Overflow]] when the total
    * reaches ±10^28 (or a limb add wraps, which lies far beyond). */
  def high(t: Long, hi: Long, addHi: Long): Long = {
    val s = hi + addHi
    val c = t >> Bits
    val r = s + c
    if (((hi ^ s) & (addHi ^ s)) < 0 || ((s ^ r) & (c ^ r)) < 0) return Overflow
    val lo = t & Mask
    if (r > PosHi || (r == PosHi && lo >= PosLo) ||
        r < NegHi || (r == NegHi && lo <= NegLo)) Overflow
    else r
  }

  /** The total `hi·2^31 + lo` as a decimal of the given precision and scale. */
  def total(hi: Long, lo: Long, precision: Int, scale: Int): Decimal = Decimal(
    new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi).shiftLeft(Bits).add(java.math.BigInteger.valueOf(lo)),
      scale),
    precision, scale)
}

/** The limbs' total as `dt` (null after an overflow, via a null `hi`). */
case class LimbTotal(lo: Expression, hi: Expression, dt: DecimalType)
    extends BinaryExpression {
  override def left: Expression = lo
  override def right: Expression = hi
  override def dataType: DataType = dt
  override def nullSafeEval(l: Any, h: Any): Any =
    MoneyLimbs.total(h.asInstanceOf[Long], l.asInstanceOf[Long], dt.precision, dt.scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = MoneyLimbs.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (l, h) =>
      s"${ev.value} = $cls.total($h, $l, ${dt.precision}, ${dt.scale});")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(lo = newLeft, hi = newRight)
}
