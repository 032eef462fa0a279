package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.{ColumnBridge, DecimalBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact cents of a money value: the LONG that equals
  * `(cast(x as decimal(18,2)) * 100).cast(long)` for a numeric `x` — for
  * a DOUBLE, Spark's HALF_UP rounding of its shortest decimal string — in
  * value, NULLs and ANSI errors; for a DOUBLE without building a
  * BigDecimal per row. Other numeric types take Spark's cast as it is.
  *
  * DOUBLE fast path: where `|x| < 2^44` and `rint(100·x) / 100 == x`, the cents
  * are `rint(100·x)`. That is exact: `Double.toString` round-trips, so the
  * decimal Spark rounds lies within one ulp of `c/100`, and
  * `ulp(x) ≤ 2^-9 < 0.005` below `2^44`. Every other double (half cents,
  * NaN, ±Inf, values beyond decimal(18,2)) takes Spark's own
  * `UnscaledValue(Cast(x, DecimalType(18, 2)))`, under the eval mode of
  * the session that analyzes the query, as Spark's `Cast` takes it.
  *
  * The optimizer replaces it with that composition of built-in
  * expressions ([[Cents.of]]), so it is codegen'd like any of them.
  */
case class Cents(child: Expression) extends RuntimeReplaceable with UnaryLike[Expression] {

  override lazy val replacement: Expression = Cents.of(child, EvalMode.fromSQLConf(SQLConf.get))
  override def prettyName: String = "cents"
  override def checkInputDataTypes(): TypeCheckResult = Cents.checkNumeric(child, prettyName)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Cents {

  /** Below 2^44 a double's ulp is at most 2^-9, well inside half a cent. */
  private val FastLimit = Literal(17592186044416.0) // 2^44

  /** Arithmetic that cannot overflow needs no ANSI check. */
  private[functions] val Legacy = NumericEvalContext(EvalMode.LEGACY)

  /** The cents of a resolved numeric `x` as built-in expressions ([[Cents]]
    * defines them). */
  def of(x: Expression, evalMode: EvalMode.Value): Expression = {
    val exact = UnscaledValue(Cast(x, DecimalType(18, 2), None, evalMode))
    if (x.dataType != DoubleType) return exact
    val scaled = Rint(Multiply(x, Literal(100.0), Legacy))
    If(And(LessThan(Abs(x, failOnError = false), FastLimit),
           EqualTo(Divide(scaled, Literal(100.0), Legacy), x)),
      Cast(scaled, LongType, None, EvalMode.LEGACY),
      exact)
  }

  def checkNumeric(x: Expression, name: String): TypeCheckResult =
    if (x.dataType.isInstanceOf[NumericType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires a numeric argument, got ${x.dataType.simpleString}")

  /** `hi·2^61 + lo` cents as decimal(28,2): NULL past its precision, or
    * Spark's overflow error where `nullOnOverflow` is false.
    */
  def toDecimal(hi: Long, lo: Long, nullOnOverflow: Boolean): Decimal =
    if (hi >= -4 && hi <= 3) Decimal((hi << 61) + lo, 28, 2) // |value| < 2^63 cents fits
    else DecimalBridge.toPrecision(Decimal(new java.math.BigDecimal(
      BigInteger.valueOf(hi).shiftLeft(61).add(BigInteger.valueOf(lo)), 2)), 28, 2, nullOnOverflow)
}

/** Exact money sum as a native aggregate: `cents_sum(x)` equals
  * `sum(x.cast(DecimalType(18, 2)))` for a numeric `x` — type
  * `decimal(28,2)`, value, NULLs (no non-NULL input: NULL) and ANSI
  * errors — but does integer arithmetic per row and builds one decimal per
  * group, and for a DOUBLE `x` none per row. Spark's sum reads and
  * writes a `BigInteger` per row, because a `decimal(28,2)` buffer is too
  * wide for its compact long decimal.
  *
  * Per row it adds `c =` [[Cents]]`(x)` into a two-long buffer: `lo` holds
  * the low 61 bits, in `[0, 2^61)`, and `hi` the rest with the carries,
  * so `hi·2^61 + lo` is the exact sum. Update and merge are the same rule;
  * it cannot overflow below 2^62 rows, and the result does not depend on
  * merge order. A declarative aggregate of built-in expressions with a
  * fixed-width buffer keeps `HashAggregate`'s whole-stage codegen and its
  * fast hash map.
  *
  * The result is checked against decimal(28,2) once, at evaluation, as
  * Spark's sum checks its result: NULL on overflow, or Spark's overflow
  * error under ANSI. Spark's sum also overflows when a running partial
  * passes 10^26 before the total comes back inside it; that takes more
  * than 10^10 rows of decimal(18,2) values, and there this sum is exact.
  */
case class CentsSum(child: Expression, evalMode: EvalMode.Value)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def prettyName: String = "cents_sum"
  override def dataType: DataType = DecimalType(28, 2)
  override def nullable: Boolean = true

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  private val LoMask = Literal((1L << 61) - 1)

  /** `(hi, lo) + (dHi·2^61 + dLo)` with `lo`, `dLo` in `[0, 2^61)`. */
  private def add(hi: Expression, lo: Expression, dHi: Expression, dLo: Expression) = {
    val s = Add(lo, dLo, Cents.Legacy) // below 2^62
    Seq(Add(Add(hi, dHi, Cents.Legacy), ShiftRight(s, Literal(61)), Cents.Legacy),
      BitwiseAnd(s, LoMask))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val c = Cents.of(child, evalMode)
    val c0 = Coalesce(Seq(c, Literal(0L)))
    add(hi, lo, ShiftRight(c0, Literal(61)), BitwiseAnd(c0, LoMask)) :+ Or(seen, IsNotNull(c))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    add(hi.left, lo.left, hi.right, lo.right) :+ Or(seen.left, seen.right)

  override lazy val evaluateExpression: Expression =
    If(seen, CentsToDecimal(hi, lo, nullOnOverflow = evalMode != EvalMode.ANSI),
      Literal.create(null, dataType))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `cents_sum(x)` as a query writes it: the optimizer replaces it with
  * [[CentsSum]] under the eval mode of the session that analyzes the
  * query, as Spark's sum takes its eval mode when it is resolved.
  */
case class CentsSumCall(child: Expression)
    extends AggregateFunction with RuntimeReplaceableAggregate with UnaryLike[Expression] {

  override lazy val replacement: Expression = CentsSum(child, EvalMode.fromSQLConf(SQLConf.get))
  override def prettyName: String = "cents_sum"
  override def checkInputDataTypes(): TypeCheckResult = Cents.checkNumeric(child, prettyName)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[CentsSum]]'s evaluation, once per group: [[Cents.toDecimal]]. */
case class CentsToDecimal(hi: Expression, lo: Expression, nullOnOverflow: Boolean)
    extends BinaryExpression {

  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = DecimalType(28, 2)
  override def nullable: Boolean = true

  override protected def nullSafeEval(h: Any, l: Any): Any =
    Cents.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long], nullOnOverflow)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) =>
      s"""${ev.value} = graft.functions.Cents.toDecimal($h, $l, $nullOnOverflow);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(hi = newLeft, lo = newRight)
}

/** Column surface for exact money arithmetic. */
object MoneyFunctions {

  /** The exact cents of `x` as a LONG ([[Cents]]). */
  def cents(x: Column): Column = ColumnBridge.column(Cents(ColumnBridge.expression(x)))

  /** `sum(x.cast(DecimalType(18, 2)))`, summed in integer cents ([[CentsSum]]). */
  def cents_sum(x: Column): Column =
    ColumnBridge.column(CentsSumCall(ColumnBridge.expression(x)).toAggregateExpression())
}
