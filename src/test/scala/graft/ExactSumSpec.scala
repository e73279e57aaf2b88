package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.ExactSum
import graft.operators.SessionLedger

/** `ExactSum` against Spark's built-in `sum(cast …)` / `sum(a * b)` over the
  * same rows, in generated code (RDD input, the aggregate inside
  * whole-stage codegen) and interpreted (no codegen at all). */
class ExactSumSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = TestSpark.spark

  private lazy val interpreted: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }
  private lazy val paths: Seq[(String, SparkSession)] =
    Seq("codegen" -> spark, "interpreted" -> interpreted)

  override def afterAll(): Unit = SessionLedger.forget(interpreted)

  private val schema = StructType(Seq(
    StructField("g", IntegerType), StructField("x", DoubleType), StructField("y", DoubleType),
    StructField("d", DecimalType(18, 2))))

  /** (group, x, y, d) rows as an RDD scan: a local relation would be folded
    * on the driver through `eval`. */
  private def frame(s: SparkSession, rows: Seq[(Int, Any, Any, Any)]): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows.map(Row.fromTuple(_)), 3), schema)

  private def d(p: Int, sc: Int)(c: String): Column = col(c).cast(DecimalType(p, sc))

  /** The sums under test, as `ExactSum` and as the built-in `sum`. */
  private def sums(exact: Boolean): Seq[Column] = {
    def s(fs: Column*): Column =
      if (exact) ExactSum.of(fs: _*) else sum(fs.reduce(_ * _))
    Seq(s(d(18, 6)("x")), s(d(18, 2)("x")), s(d(18, 2)("x"), d(18, 2)("y")),
      s(d(18, 2)("y"), d(18, 2)("y")), s(col("d")), s(col("d"), col("d")))
      .zipWithIndex.map { case (c, i) => c.as(s"s$i") }
  }

  private def grouped(df: DataFrame, exact: Boolean): DataFrame =
    df.groupBy(col("g")).agg(sums(exact).head, sums(exact).tail: _*)

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getInt(0))

  /** Same schema and rows as the built-in sums on both paths, and the
    * aggregate ran where each path says. */
  private def parity(rows: Seq[(Int, Any, Any, Any)]): Unit = paths.foreach { case (path, s) =>
    val got = grouped(frame(s, rows), exact = true)
    val want = grouped(frame(s, rows), exact = false)
    assert(got.schema == want.schema, path)
    assert(sorted(got) == sorted(want), path)
    val nodes = TestPlans.nodes(got)
    assert(!nodes.exists(n => n.isInstanceOf[ObjectHashAggregateExec] ||
      n.isInstanceOf[SortAggregateExec]), nodes.mkString("\n"))
    val fused = nodes.exists {
      case w: WholeStageCodegenExec => w.child.collect { case h: HashAggregateExec => h }.nonEmpty
      case _ => false
    }
    assert(fused == (path == "codegen"), nodes.mkString("\n"))
    assert(nodes.exists(_.isInstanceOf[HashAggregateExec]), path)
  }

  private val big = BigDecimal("9999999999999999.99")

  test("NULL, all-NULL, NaN, ±Inf and -0.0 rows match the built-in sum") {
    val nan = Double.NaN
    parity(Seq(
      (1, 1.25, 0.5, BigDecimal("1.25")), (1, null, 0.25, null), (1, -0.0, -0.0, BigDecimal(0)),
      (1, 3.1, null, BigDecimal("-7.01")),
      (2, null, null, null), (2, null, null, null), // all-NULL group
      (3, nan, 1.0, null), (3, Double.PositiveInfinity, Double.NegativeInfinity, null),
      (3, 2.5, nan, BigDecimal("2.50")),
      (4, -0.0, 0.0, BigDecimal("-0.00"))))
  }

  test("half-grid ties at scales 2 and 6 round as the cast does") {
    val ties = for {
      k <- 0 until 400
      sign <- Seq(1.0, -1.0)
    } yield {
      val two = sign * (k * 2 + 1) / 200.0 // x.xx5: a tie at scale 2
      val six = sign * (k * 7919 + 1) / 2.0e6 // x.xxxxxx5: a tie at scale 6
      (k % 5, two: Any, six: Any, null: Any)
    }
    val exact = Seq((5, 0.125, 2.675, null), (5, 1.0000005, 0.0000005, null),
      (6, 1.005, 1.015, null), (6, 123456.785, -0.000001500000, null))
    parity(ties ++ exact)
  }

  test("|x·10^s| ≥ 2^47 takes the cast's path and stays exact across limbs") {
    // 9.9e11 at scale 6 is 9.9e17 unscaled; ten of them pass 2^63
    val huge = (0 until 40).map(i => (i % 2, (9.9e11 - i * 1234.567891): Any,
      (9.9e15 - i * 2): Any, big: Any))
    val mixed = (0 until 40).map(i => (2, (if (i % 3 == 0) -1 else 1) * (9.87e11 + i): Any,
      (-9.9e15 + i * 4): Any, (if (i % 2 == 0) big else -big): Any))
    parity(huge ++ mixed)
  }

  test("decimal(18,2) maxima multiplied carry across limbs and match") {
    val rows = (0 until 60).map(i => (i % 3, null: Any, null: Any,
      (if (i % 7 == 0) -big else big): Any))
    parity(rows)
  }

  test("an empty input gives NULL on both paths") {
    paths.foreach { case (path, s) =>
      val df = frame(s, Seq((1, 1.0, 1.0, big))).filter(col("g") < 0)
      val got = df.agg(sums(exact = true).head, sums(exact = true).tail: _*)
      val want = df.agg(sums(exact = false).head, sums(exact = false).tail: _*)
      assert(got.collect().toSeq == want.collect().toSeq, path)
      assert(got.collect().head.toSeq.forall(_ == null), path)
    }
  }

  /** The ANSI error's condition, exact and built-in alike. */
  private def condition(df: => DataFrame): String = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
      case a: org.apache.spark.SparkThrowable if a.getCondition != null => a.getCondition
    }.getOrElse(fail(s"no arithmetic error in $e", e))
  }

  test("a value past decimal(18,6) raises the cast's error on both paths") {
    paths.foreach { case (path, s) =>
      val df = frame(s, Seq((1, 1.0, 1.0, null), (1, 2.0e12, 1.0, null)))
      val want = condition(df.groupBy(col("g")).agg(sum(d(18, 6)("x"))))
      assert(condition(df.groupBy(col("g")).agg(ExactSum.of(d(18, 6)("x")))) == want, path)
    }
  }

  test("a sum past decimal(38,4) raises the grouped sum's error on both paths") {
    paths.foreach { case (path, s) =>
      val df = frame(s, (0 until 120).map(_ => (1, null, null, big)))
      val want = condition(df.groupBy(col("g")).agg(sum(col("d") * col("d"))))
      assert(condition(df.groupBy(col("g")).agg(ExactSum.of(col("d"), col("d")))) == want, path)
    }
  }

  test("a partial sum between 10^38 and 2^127 that comes back is exact; past 2^127 both raise") {
    // one partition, so the order is fixed: k maxima squared (each about
    // 10^36 unscaled), then k negated ones bring the sum back to 0
    val schema1 = StructType(Seq(StructField("g", IntegerType), StructField("d", DecimalType(18, 2))))
    def sums(s: SparkSession, k: Int): (DataFrame, DataFrame) = {
      val df = s.createDataFrame(s.sparkContext.parallelize(
        (0 until 2 * k).map(i => Row(1, if (i < k) big.bigDecimal else big.bigDecimal.negate)), 1),
        schema1).groupBy(col("g"))
      (df.agg(ExactSum.of(col("d"), abs(col("d")))), df.agg(sum(col("d") * abs(col("d")))))
    }
    paths.foreach { case (path, s) =>
      // 150: the grouped sum's buffer overflows at 10^38 and stays NULL;
      // the limbs hold 1.5e38 and come back (COVERAGE.md, ExactSum row)
      val (exact, builtIn) = sums(s, 150)
      assert(exact.collect().map(_.getDecimal(1).signum).toSeq == Seq(0), path)
      assert(condition(builtIn) == "ARITHMETIC_OVERFLOW", path)
      val (exactFar, builtInFar) = sums(s, 200) // 2e38 > 2^127
      assert(condition(exactFar) == "ARITHMETIC_OVERFLOW", path)
      assert(condition(builtInFar) == "ARITHMETIC_OVERFLOW", path)
    }
  }

  /** `evaluate` over a hand-set (hi, lo, n) buffer: interpreted, then
    * generated. */
  private def evaluate(ansi: Boolean, hi: Long, lo: Long, n: Long): Seq[() => Any] = {
    val agg = ExactSum(Seq(Cast(Literal(1.0), DecimalType(18, 6))), ansi)
    val bound = BindReferences.bindReference(agg.evaluateExpression, agg.aggBufferAttributes)
    val row = InternalRow(hi, lo, n)
    Seq(() => bound.eval(row),
      () => GenerateMutableProjection.generate(Seq(bound)).apply(row).get(0, agg.dataType))
  }

  test("evaluate: decimal(28,6) bounds, the empty buffer and a 128-bit overflow") {
    val max = BigInt(10).pow(28) - 1 // largest decimal(28,6) unscaled value
    def limbs(v: BigInt): (Long, Long) = ((v >> 64).toLong, v.toLong)
    for (v <- Seq(max, -max, BigInt(Long.MaxValue) + 1, BigInt(Long.MinValue) - 1)) {
      val (hi, lo) = limbs(v)
      evaluate(ansi = true, hi, lo, 5).foreach(f =>
        assert(f() == Decimal(BigDecimal(v, 6), 28, 6)))
    }
    evaluate(ansi = true, 0L, 0L, 0L).foreach(f => assert(f() == null))
    val (oHi, oLo) = limbs(max + 1)
    for ((hi, lo, n) <- Seq((oHi, oLo, 5L), (0L, 0L, Long.MinValue))) {
      evaluate(ansi = false, hi, lo, n).foreach(f => assert(f() == null))
      evaluate(ansi = true, hi, lo, n).foreach { f =>
        val e = intercept[ArithmeticException](f())
        assert(e.getMessage.contains("overflow"), e.getMessage)
      }
    }
  }

  test("limb arithmetic: carries, borrows and the sticky 128-bit overflow") {
    val rnd = new scala.util.Random(18)
    def value(hi: Long, lo: Long): BigInt = (BigInt(hi) << 64) + (BigInt(lo) & ((BigInt(1) << 64) - 1))
    for (_ <- 0 until 2000) {
      val (aHi, aLo, bHi, bLo) = (rnd.nextLong() >> rnd.nextInt(64), rnd.nextLong(),
        rnd.nextLong() >> rnd.nextInt(64), rnd.nextLong())
      val exact = value(aHi, aLo) + value(bHi, bLo)
      val (hi, lo) = (ExactSum.addHi(aHi, aLo, bHi, bLo), ExactSum.addLo(aLo, bLo))
      val fits = exact.bitLength < 128
      if (fits) assert(value(hi, lo) == exact)
      assert(ExactSum.addCount(aHi, aLo, 3L, bHi, bLo, 1L) == (if (fits) 4L else Long.MinValue))
    }
    assert(ExactSum.addCount(0L, 0L, Long.MinValue, 0L, 1L, 1L) == Long.MinValue)
  }

  test("money sums stay in one whole-stage aggregate with the terms evaluated once") {
    val df = grouped(frame(spark, Seq((1, 1.0, 2.0, big))), exact = true)
    df.collect()
    import org.apache.spark.sql.execution.debug._
    val code = codegenString(TestPlans.finalPlan(df))
    // one fast-path call per distinct term (x at scales 6 and 2, y at
    // scale 2), not one per reference: 18 without subexpression elimination
    val calls = "ExactSum\\.fastUnscaled\\(".r.findAllMatchIn(code).size
    assert(calls == 3, code)
  }
}
