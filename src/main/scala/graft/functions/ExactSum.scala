package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `sum(cast(x as decimal(38,6)))` — the exact, order-independent sum
  * the oracle-checked aggregates need — with long arithmetic per row
  * instead of the cast's `Double.toString` + `BigDecimal` parse and a
  * 38-digit add.
  *
  * Fast path (double input, |x| < 2^32): the row's unscaled value
  * `round(x, 6) * 1e6` is at most 2^52 in magnitude and is computed by
  * [[ExactSumUtil.micros]] — `u = rint(x * 1e6)` when `u / 1e6 == x`,
  * else Spark's own `Decimal(x).changePrecision(38, 6)`. It is split at
  * bit 26 into two long buffers, `hi += u >> 26` and `lo += u & (2^26-1)`,
  * so each update moves each buffer by less than 2^26.
  *
  * Decimal path: rows with |x| >= 2^32, NaN or ±Inf feed Spark's own
  * [[Sum]] over the cast, so cast overflow, NaN and the ANSI setting
  * behave exactly as `sum(cast(x as decimal(38,6)))`. Inputs of any
  * other type delegate to that `Sum` entirely.
  *
  * Overflow bound: only updates grow the long buffers. A merge folds the
  * other side's longs into the decimal slot and keeps its own, and the
  * final value folds them once more, so a buffer's longs stay below
  * 2^26 × (rows one buffer is updated with: one task's rows of one group,
  * or one window frame) — no overflow below 2^37 such rows. The long adds
  * are exact (`Math.addExact`): past that bound the query fails rather
  * than wrap.
  */
case class ExactSum(
    child: Expression,
    evalContext: NumericEvalContext = NumericEvalContext.fromSQLConf(SQLConf.get))
  extends DeclarativeAggregate with UnaryLike[Expression] {

  import ExactSum.{Dec, Fold, Micros}

  override def prettyName: String = "exact_sum"
  override def dataType: DataType = Dec
  override def nullable: Boolean = true
  override def flatArguments: Iterator[Any] = Iterator(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (Cast.canCast(child.dataType, Dec)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"exact_sum cannot cast ${child.dataType.catalogString} to ${Dec.catalogString}")

  private lazy val fast = child.dataType == DoubleType
  private lazy val cast = Cast(child, Dec, None, evalContext.evalMode)
  private lazy val micros = Micros(child)
  private lazy val slow =
    Sum(if (fast) If(IsNull(micros), cast, Literal(null, Dec)) else cast, evalContext)
  // Sum over a decimal tracks emptiness: its buffer is (sum, isEmpty)
  private lazy val sum = slow.aggBufferAttributes.head
  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val longs = if (fast) Seq(hi, lo) else Nil

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    slow.aggBufferAttributes ++ longs
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    slow.inputAggBufferAttributes ++ longs.map(_.newInstance())

  private def exactAdd(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.ANSI))

  override lazy val initialValues: Seq[Expression] =
    slow.initialValues ++ longs.map(_ => Literal(0L))

  override lazy val updateExpressions: Seq[Expression] =
    if (!fast) slow.updateExpressions
    else {
      val Seq(sumUpdate, isEmptyUpdate) = slow.updateExpressions
      val taken = IsNotNull(micros)
      Seq(sumUpdate,
        And(isEmptyUpdate, Not(taken)),
        If(taken, exactAdd(hi, ShiftRight(micros, Literal(ExactSum.Split))), hi),
        If(taken, exactAdd(lo, BitwiseAnd(micros, Literal(ExactSum.LoMask))), lo))
    }

  override lazy val mergeExpressions: Seq[Expression] =
    if (!fast) slow.mergeExpressions
    else {
      val Seq(sumMerge, isEmptyMerge) = slow.mergeExpressions
      Seq(addFold(sumMerge, hi.right, lo.right), isEmptyMerge, hi.left, lo.left)
    }

  // Sum's own result — null when empty, and its overflow check (null or
  // error by the ANSI setting) — over the decimal slot plus its longs
  override lazy val evaluateExpression: Expression =
    if (!fast) slow.evaluateExpression
    else slow.evaluateExpression.transformUp {
      case a: AttributeReference if a == sum => addFold(sum, hi, lo)
    }

  /** Decimal slot + folded longs. Like Sum's own adds, unchecked: the
    * overflow check is Sum's, on the final value. */
  private def addFold(dec: Expression, h: Expression, l: Expression): Expression =
    DecimalAddNoOverflowCheck(dec, Fold(h, l), Dec)

  override protected def withNewChildInternal(c: Expression): ExactSum = copy(child = c)
}

object ExactSum {
  val Dec: DecimalType = DecimalType(38, 6)
  private val Split = 26
  private val LoMask = (1L << Split) - 1

  /** A double's unscaled decimal(38,6) value when |x| < 2^32, else null. */
  private[functions] case class Micros(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(x: Any): Any = {
      val d = x.asInstanceOf[Double]
      if (math.abs(d) < ExactSumUtil.Bound) ExactSumUtil.micros(d) else null
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x =>
        s"""if (Math.abs($x) < ${ExactSumUtil.Bound}D) {
           |  ${ev.value} = graft.functions.ExactSumUtil.micros($x);
           |} else {
           |  ${ev.isNull} = true;
           |}""".stripMargin)
    override protected def withNewChildInternal(c: Expression): Micros = copy(child = c)
  }

  /** The decimal(38,6) whose unscaled value is hi·2^26 + lo. */
  private[functions] case class Fold(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = Dec
    override def nullSafeEval(h: Any, l: Any): Any =
      ExactSumUtil.fold(h.asInstanceOf[Long], l.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (h, l) => s"graft.functions.ExactSumUtil.fold($h, $l)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Fold =
      copy(left = l, right = r)
  }
}

object ExactSumUtil {
  /** 2^32: below it a double's rounding interval is narrower than 5e-7,
    * so at most one 6-place decimal rounds to it. */
  val Bound: Double = 4294967296.0

  /** [[fastMicros]]'s answer for a value off the fast path. */
  val Off: Long = Long.MinValue

  /** Unscaled value of `cast(x as decimal(38,6))` for |x| < 2^32:
    * [[fastMicros]], else the cast's own arithmetic.
    */
  def micros(x: Double): Long = {
    val u = fastMicros(x)
    if (u != Off) u
    else {
      val d = Decimal(x)
      d.changePrecision(38, 6)
      d.toUnscaledLong
    }
  }

  /** For |x| < 2^32: `u = rint(x·1e6)` when it divides back to x, else
    * [[Off]]. Such a u·1e-6 is the one 6-place decimal that rounds to x,
    * which is what the cast's HALF_UP rounding of x's shortest decimal
    * string yields. Every x below 2^31 that is the double of a 6-place
    * decimal d takes this path: there x·1e6 is within 0.5 of d·1e6.
    */
  def fastMicros(x: Double): Long = {
    val u = Math.rint(x * 1e6)
    if (u / 1e6 == x) u.toLong else Off
  }

  def fold(hi: Long, lo: Long): Decimal =
    Decimal(new JBigDecimal(BigInteger.valueOf(hi).shiftLeft(26).add(BigInteger.valueOf(lo)), 6), 38, 6)
}
