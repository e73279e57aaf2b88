package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.expressions.{DotProduct, LshBandCodes}

/** Vector similarity primitives over ArrayType columns (SURVEY.md §2.10/§2.11
  * extension surface).
  *
  * The default implementations are the native codegen'd Catalyst expressions
  * (graft.expressions): Spark's higher-order functions are CodegenFallback
  * (interpreted per element), which is ~50× slower in pairwise-join hot
  * loops. The HOF formulations are kept (`dotHof`) as an executable spec —
  * SimilaritySpec asserts bit-identical results.
  *
  * Determinism: embeddings are float[]; cast to double[] FIRST (a native,
  * codegen'd Cast) so every product is a double×double IEEE op folded
  * left-to-right — bit-for-bit identical to DuckDB's list_dot_product.
  */
object Similarity {

  /** float[] → double[] via native Cast (codegen'd, unlike transform()). */
  def toDoubleArray(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** Compiled sequential-fold dot product (graft.expressions.DotProduct). */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Interpreted HOF reference implementation (executable spec for `dot`). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine given precomputed norms (compute each row's norm once, not once
    * per pair — at 100 TB the norm column is materialized with the vector). */
  def cosinePre(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB / (normA * normB)

  /** All LSH band codes in one compiled pass (array<int>, one code per
    * band) — bit-exact fusion of the per-plane
    * `when(dot(emb, plane) > 0, 1<<i)` sum (expressions.LshBandCodes
    * scaladoc has the equivalence argument). */
  def lshBandCodes(emb: Column, planes: Seq[Array[Double]], bits: Int): Column =
    Bridge.column(LshBandCodes(Bridge.expression(emb), planes, bits))
}
