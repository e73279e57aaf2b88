package graft.expressions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Cast, CheckOverflowInSum, EqualTo, Expression, GenericInternalRow, If, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}

/** Exact `sum` of one decimal column, or of the product of two, on two
  * 64-bit limbs: what Spark's `sum(x)` / `sum(a * b)` returns, result type
  * and overflow error included, without a `BigDecimal` per row.
  *
  * Each factor is a decimal of precision ≤ 18, so its unscaled value is one
  * `long` (`UnscaledTerm`). For a cast from double the term is
  * `rint(x·10^s)` when |x·10^s| < 2^47 and x·10^s lies within 1/4 of that
  * integer: the double's decimal string sits within 0.1 of x·10^s there,
  * so HALF_UP at scale s cannot round anywhere else. Every other value goes
  * through Spark's own `Cast` (NaN and ±Inf give NULL, an out-of-range
  * value raises the ANSI error). A product of two terms is exact in 128
  * bits (`Math.multiplyHigh`).
  *
  * The buffer is (hi, lo, n): a signed 128-bit sum and the count of
  * non-NULL rows. `n` = 0 evaluates to NULL, as `sum` of no values does;
  * `n` < 0 marks a partial sum that left 128 bits, far past decimal(38).
  * `evaluate` builds one `Decimal` per group; a value past the result
  * precision raises, through Spark's `CheckOverflowInSum`, the error a
  * grouped `sum` raises (NULL instead when ANSI mode is off).
  * Update and merge are non-conditional expressions over the buffer and the
  * terms, so subexpression elimination evaluates each term once per row, in
  * generated code and interpreted alike.
  */
case class ExactSum(children: Seq[Expression], ansi: Boolean = SQLConf.get.ansiEnabled)
    extends DeclarativeAggregate {
  require(children.size == 1 || children.size == 2, "exact_sum takes one or two factors")

  private def factorTypes: Seq[DecimalType] = children.map(_.dataType).collect {
    case d: DecimalType => d
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (factorTypes.size == children.size && factorTypes.forall(_.precision <= 18))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName takes decimals of precision <= 18")

  /** Spark's types: a product of decimal(p1, s1) and decimal(p2, s2) is
    * decimal(p1 + p2 + 1, s1 + s2) (at most 37 digits here, so no scale is
    * lost), and `sum` of decimal(p, s) is decimal(min(p + 10, 38), s). */
  override lazy val dataType: DecimalType = {
    val p = factorTypes.map(_.precision).sum + factorTypes.size - 1
    DecimalType(math.min(p + 10, DecimalType.MAX_PRECISION), factorTypes.map(_.scale).sum)
  }
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val n = AttributeReference("n", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, n)
  override lazy val initialValues: Seq[Expression] = Seq.fill(3)(Literal(0L))
  override lazy val updateExpressions: Seq[Expression] =
    (0 until 3).map(AddLimbs(_, aggBufferAttributes ++ children.map(UnscaledTerm)))
  override lazy val mergeExpressions: Seq[Expression] =
    (0 until 3).map(AddLimbs(_, Seq(hi.left, lo.left, n.left, hi.right, lo.right, n.right)))
  override lazy val evaluateExpression: Expression =
    If(EqualTo(n, Literal(0L)), Literal(null, dataType),
      CheckOverflowInSum(LimbsValue(hi, lo, n, dataType), dataType, !ansi,
        if (ansi) origin.context else null))

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): ExactSum =
    copy(children = newChildren)
}

object ExactSum {
  /** `sum` of the product of `factors` (one or two decimal columns of
    * precision ≤ 18), for DataFrame call sites. */
  def of(factors: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      ExactSum(factors.map(org.apache.spark.sql.graftbridge.Bridge.expression))
        .toAggregateExpression())

  private[expressions] val FastLimit = 140737488355328.0 // 2^47
  private val Mask64 = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)

  /** `rint(x·pow)` when that is the exact decimal cast of `x`, else
    * `Long.MinValue`. Java-callable from generated code. */
  def fastUnscaled(x: Double, pow: Double, limit: Double): Long = {
    val v = x * pow
    val r = Math.rint(v)
    if (Math.abs(v) < limit && Math.abs(v - r) < 0.25) r.toLong else Long.MinValue
  }

  /** The limbs of a + b, each a (hi, lo, n) triple: low limb, high limb
    * with the carry, and the count, set to `Long.MinValue` for good once a
    * signed 128-bit sum overflows. */
  def addLo(aLo: Long, bLo: Long): Long = aLo + bLo
  def addHi(aHi: Long, aLo: Long, bHi: Long, bLo: Long): Long =
    aHi + bHi + (if (java.lang.Long.compareUnsigned(aLo + bLo, aLo) < 0) 1L else 0L)
  def addCount(aHi: Long, aLo: Long, aN: Long, bHi: Long, bLo: Long, bN: Long): Long = {
    val h = addHi(aHi, aLo, bHi, bLo)
    if (aN < 0 || bN < 0 || ((aHi ^ h) & (bHi ^ h)) < 0) Long.MinValue else aN + bN
  }

  /** The exact value of a buffer as decimal(precision, scale); NULL when
    * it does not fit or left 128 bits. */
  def toDecimal(hi: Long, lo: Long, n: Long, precision: Int, scale: Int): Decimal = {
    val d =
      if (n < 0) null
      else if (hi == (lo >> 63)) Decimal(lo, DecimalType.MAX_PRECISION, scale)
      else Decimal(new JBigDecimal(
        BigInteger.valueOf(hi).shiftLeft(64).add(BigInteger.valueOf(lo).and(Mask64)), scale))
    if (d != null && d.changePrecision(precision, scale)) d else null
  }
}

/** The unscaled `long` of a decimal of precision ≤ 18; NULL for NULL. A
  * cast from double takes `ExactSum.fastUnscaled` and falls back to the
  * cast itself, evaluated on that one double. */
case class UnscaledTerm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "unscaled_term"

  private def target: DecimalType = child.dataType.asInstanceOf[DecimalType]
  private def fromDouble: Option[Cast] = child match {
    case c: Cast if c.child.dataType == DoubleType => Some(c)
    case _ => None
  }
  private lazy val pow: Double = Math.pow(10, target.scale)
  private lazy val limit: Double = Math.min(ExactSum.FastLimit, Math.pow(10, target.precision) - 1)

  /** The cast over one bound double: same mode, time zone and context. */
  @transient private lazy val slowCast: Expression =
    fromDouble.get.withNewChildren(Seq(BoundReference(0, DoubleType, nullable = true)))

  /** Spark's cast of `x`, unscaled; NULL where the cast gives NULL.
    * Java-callable from generated code. */
  def slow(x: Double): java.lang.Long = slowCast.eval(new GenericInternalRow(Array[Any](x))) match {
    case null => null
    case d: Decimal => d.toUnscaledLong
  }

  override def eval(input: InternalRow): Any = fromDouble match {
    case Some(c) => c.child.eval(input) match {
      case null => null
      case x: Double =>
        val t = ExactSum.fastUnscaled(x, pow, limit)
        if (t != Long.MinValue) t else slow(x)
    }
    case None => child.eval(input) match {
      case null => null
      case d: Decimal => d.toUnscaledLong
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    fromDouble match {
      case Some(c) =>
        val x = c.child.genCode(ctx)
        val self = ctx.addReferenceObj("term", this)
        val slow = ctx.freshName("slow")
        ev.copy(code = code"""
          |${x.code}
          |boolean ${ev.isNull} = ${x.isNull};
          |long ${ev.value} = -1L;
          |if (!${ev.isNull}) {
          |  ${ev.value} = graft.expressions.ExactSum.fastUnscaled(${x.value}, $pow, $limit);
          |  if (${ev.value} == Long.MIN_VALUE) {
          |    java.lang.Long $slow = $self.slow(${x.value});
          |    ${ev.isNull} = $slow == null;
          |    ${ev.value} = ${ev.isNull} ? -1L : $slow.longValue();
          |  }
          |}""".stripMargin)
      case None => defineCodeGen(ctx, ev, d => s"$d.toUnscaledLong()")
    }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case d: DecimalType if d.precision <= 18 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName takes a decimal of precision <= 18")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Limb `limb` (0 = hi, 1 = lo, 2 = n) of buffer + addend. `children` are
  * the buffer's (hi, lo, n), then the addend: another buffer's (hi, lo, n)
  * (merge, six children), else one row's terms, one or two nullable
  * unscaled longs whose product is added; a NULL term leaves the buffer as
  * it is. */
case class AddLimbs(limb: Int, children: Seq[Expression]) extends Expression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "add_limbs"

  override def eval(input: InternalRow): Any = {
    def at(i: Int): Any = children(i).eval(input)
    val (aHi, aLo, aN) = (at(0).asInstanceOf[Long], at(1).asInstanceOf[Long], at(2).asInstanceOf[Long])
    val (bHi, bLo, bN) =
      if (children.size == 6) (at(3).asInstanceOf[Long], at(4).asInstanceOf[Long], at(5).asInstanceOf[Long])
      else children.drop(3).map(_.eval(input)) match {
        case Seq(t: Long) => (t >> 63, t, 1L)
        case Seq(a: Long, b: Long) => (Math.multiplyHigh(a, b), a * b, 1L)
        case _ => return Seq(aHi, aLo, aN)(limb) // a NULL term
      }
    limb match {
      case 0 => ExactSum.addHi(aHi, aLo, bHi, bLo)
      case 1 => ExactSum.addLo(aLo, bLo)
      case _ => ExactSum.addCount(aHi, aLo, aN, bHi, bLo, bN)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = children.map(_.genCode(ctx))
    val Seq(aHi, aLo, aN) = in.take(3).map(_.value.toString)
    val (skip, bHi, bLo, bN) = in.drop(3) match {
      case Seq(h, l, c) => ("false", h.value.toString, l.value.toString, c.value.toString)
      case Seq(t) => (t.isNull.toString, s"(${t.value} >> 63)", t.value.toString, "1L")
      case Seq(a, b) => (s"${a.isNull} || ${b.isNull}", s"Math.multiplyHigh(${a.value}, ${b.value})",
        s"(${a.value} * ${b.value})", "1L")
    }
    val e = "graft.expressions.ExactSum"
    val add = limb match {
      case 0 => s"$e.addHi($aHi, $aLo, $bHi, $bLo)"
      case 1 => s"$e.addLo($aLo, $bLo)"
      case _ => s"$e.addCount($aHi, $aLo, $aN, $bHi, $bLo, $bN)"
    }
    ev.copy(isNull = FalseLiteral, code = code"""
      |${in.map(_.code).reduce(_ + _)}
      |long ${ev.value} = ($skip) ? ${Seq(aHi, aLo, aN)(limb)} : $add;""".stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): AddLimbs =
    copy(children = newChildren)
}

/** A buffer's exact value as a `dataType` decimal (`ExactSum.toDecimal`);
  * NULL when it overflows. */
case class LimbsValue(hi: Expression, lo: Expression, n: Expression, dataType: DecimalType)
    extends Expression {
  override def children: Seq[Expression] = Seq(hi, lo, n)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = ExactSum.toDecimal(
    hi.eval(input).asInstanceOf[Long], lo.eval(input).asInstanceOf[Long],
    n.eval(input).asInstanceOf[Long], dataType.precision, dataType.scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(h, l, c) = children.map(_.genCode(ctx))
    ev.copy(code = code"""
      |${h.code}
      |${l.code}
      |${c.code}
      |Decimal ${ev.value} = graft.expressions.ExactSum.toDecimal(${h.value}, ${l.value}, ${c.value},
      |  ${dataType.precision}, ${dataType.scale});
      |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): LimbsValue =
    copy(hi = newChildren(0), lo = newChildren(1), n = newChildren(2))
}
