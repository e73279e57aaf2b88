package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for vector similarity (SURVEY.md §7.3's one
  * justified custom-Expression candidate).
  *
  * Why custom: Spark's higher-order functions (`zip_with`/`aggregate`) are
  * CodegenFallback — every element evaluation walks an interpreted expression
  * tree. A pairwise similarity join evaluates millions of 64-element folds,
  * which made the interpreted path ~50× slower than this compiled loop. These
  * expressions participate in whole-stage codegen via `doGenCode`.
  *
  * Semantics exactly match the HOF formulation (and DuckDB's
  * list_dot_product): strict left-to-right double accumulation, so results
  * are bit-for-bit identical to the oracle's — verified in SimilaritySpec.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match { case ArrayType(DoubleType, _) => true; case _ => false }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  })

  /** Exactly the HOF `aggregate(zip_with(a,b,(x,y)->x*y),0.0,(s,v)->s+v)`
    * semantics — including NULL on ragged lengths (zip_with null-pads) and
    * NULL on any null element (null poisons the running add) — so `dot`
    * stays bit-identical to its reference `Similarity.dotHof`. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      // null-element check only emitted when the array types allow nulls
      val nullCheck = if (elementsNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All LSH band codes of a vector in ONE compiled pass — the fused form of
  * the `lshPairs`/q38/q110 band-code projection.
  *
  * The composed formulation builds bands×bits separate `DotProduct`
  * sub-expressions (one per hyperplane), each re-walking the embedding
  * `ArrayData` through virtual `getDouble` calls, and at production plane
  * counts (q110: 64 planes) the generated projection method grows past
  * what the JIT promotes — the hot loop runs de-optimized. This expression
  * is two small nested loops over a constant `double[][]` plane matrix and
  * ONE `toDoubleArray()` materialization of the row's vector: bounded
  * bytecode at ANY plane count, JIT-friendly, stays in whole-stage codegen.
  *
  * Bit-exact substitution for the composed form (pinned in SimilaritySpec):
  * per plane p the sum folds d = 0..dims-1 sequentially — the identical
  * IEEE add order as `DotProduct` and the oracle's `list_dot_product` —
  * and bit (p % bits) of band (p / bits) is set iff sum > 0. The composed
  * `when(dot > 0, 1<<i).otherwise(0)` yields 0 (not NULL) for a NULL
  * vector, a NULL element, or a length-mismatched vector (dot → NULL →
  * otherwise-branch): reproduced here as all-zero codes, so the expression
  * itself is never NULL. */
case class LshBandCodes(child: Expression, planes: Seq[Array[Double]], bits: Int)
    extends UnaryExpression {

  private def dims: Int = planes.head.length
  private def bands: Int = planes.length / bits

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _)
      if planes.nonEmpty && bits > 0 && bits <= 30 &&
        planes.length % bits == 0 && planes.forall(_.length == dims) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<double> input and a rectangular plane matrix " +
        "whose row count is a multiple of bits")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_lsh_band_codes"
  override def nullable: Boolean = false

  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  override def eval(input: InternalRow): Any = {
    val codes = new Array[Int](bands)
    val a = child.eval(input)
    if (a != null) {
      val x = a.asInstanceOf[ArrayData]
      var valid = x.numElements() == dims
      if (valid && elementsNullable) {
        var d = 0
        while (valid && d < dims) { if (x.isNullAt(d)) valid = false; d += 1 }
      }
      if (valid) {
        val v = x.toDoubleArray()
        var p = 0
        while (p < planes.length) {
          val pl = planes(p)
          var s = 0.0
          var d = 0
          while (d < dims) { s += v(d) * pl(d); d += 1 }
          if (s > 0) codes(p / bits) |= 1 << (p % bits)
          p += 1
        }
      }
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val matrix = ctx.addReferenceObj("lshPlanes", planes.toArray, "double[][]")
    val codes = ctx.freshName("codes")
    val valid = ctx.freshName("valid")
    val v = ctx.freshName("v")
    val p = ctx.freshName("p")
    val d = ctx.freshName("d")
    val s = ctx.freshName("s")
    val pl = ctx.freshName("pl")
    val nullElemCheck = if (elementsNullable)
      s"""if ($valid) {
         |  for (int $d = 0; $d < $dims; $d++)
         |    if (${childGen.value}.isNullAt($d)) { $valid = false; break; }
         |}""".stripMargin
    else ""
    ev.copy(
      code = code"""
        |${childGen.code}
        |int[] $codes = new int[$bands];
        |boolean $valid = !${childGen.isNull} &&
        |  ${childGen.value}.numElements() == $dims;
        |$nullElemCheck
        |if ($valid) {
        |  double[] $v = ${childGen.value}.toDoubleArray();
        |  for (int $p = 0; $p < ${planes.length}; $p++) {
        |    double[] $pl = $matrix[$p];
        |    double $s = 0.0;
        |    for (int $d = 0; $d < $dims; $d++) $s += $v[$d] * $pl[$d];
        |    if ($s > 0) $codes[$p / $bits] |= 1 << ($p % $bits);
        |  }
        |}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
        """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
