package org.apache.spark.sql.graftbridge

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.util.Utils

/** Minimal private[sql]/private[spark]-access bridge (the standard pattern
  * for Spark extension libraries): converts between the public Column API
  * and catalyst Expressions so graft's native expressions can be used from
  * DataFrame code without registering SQL functions first, and carries a
  * thread's Spark local properties to the threads it hands work to. */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Split a possibly-sort-ordered Column (`c.desc` / `c.asc`) into its
    * underlying value column and ascending flag. Spark 4 Columns wrap lazy
    * ColumnNodes — the SortOrder lives at the node layer, so matching the
    * converted catalyst expression misses it. */
  def splitSortOrder(c: Column): (Column, Boolean) = c.node match {
    case org.apache.spark.sql.internal.SortOrder(child, dir, _, _) =>
      (new Column(child), dir == org.apache.spark.sql.internal.SortOrder.Ascending)
    case _ => (c, true)
  }

  /** Canonicalize float/double values inside an expression (-0.0 → 0.0, one
    * NaN bit pattern) — what Spark's NormalizeFloatingNumbers rule does for
    * built-in grouping/join keys. Custom logical nodes bypass that rule, so
    * operators comparing group keys byte-wise (TopKPerGroupExec) must apply
    * it themselves. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Spark's interpreted SQL ordering for a data type over INTERNAL values
    * (UTF8String binary bytes for strings, NaN-aware for floating point) —
    * the same order codegen'd SortOrder comparisons use. Backs the
    * constant-code-size bucket search in expressions.RangeBucketId. */
  def interpretedOrdering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** external (Row) value → catalyst internal value converter for a type. */
  def toCatalystConverter(dt: org.apache.spark.sql.types.DataType): Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dt)

  /** A copy of the calling thread's Spark local properties (job group,
    * description, job tags, scheduler pool). They are per thread: a pool
    * thread keeps what its creator had when it was made, not what the
    * thread that hands it work has now. */
  def localProperties(sc: SparkContext): Properties = Utils.cloneProperties(sc.getLocalProperties)

  /** Make `props` (copied, so threads never share one object) the calling
    * thread's local properties: the jobs it starts then carry them. */
  def setLocalProperties(sc: SparkContext, props: Properties): Unit =
    sc.setLocalProperties(Utils.cloneProperties(props))
}
