package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** As-of (backward temporal) join — an operator Spark lacks natively
  * (SURVEY.md §7.3 custom-operator ladder, step (a): composed from
  * built-ins, so Catalyst still owns the physical plan).
  *
  * For each left row, attach the single right row with the greatest
  * rightTime <= leftTime for the same key (inclusive, matching DuckDB's
  * `ASOF LEFT JOIN ... ON l.t >= r.t`).
  *
  * Implementation: tag and union both inputs, then carry the latest right
  * payload forward with last(ignoreNulls) over a (key, time)-ordered running
  * window, and keep only left rows. Right rows sort BEFORE left rows at
  * equal timestamps so an exactly-simultaneous right row is visible.
  *
  * Scale design: ONE shuffle of |L|+|R| rows on the key and a per-key sort —
  * no range-condition join (which Spark would plan as a broadcast
  * nested-loop) and no per-row probe amplification. This is the standard
  * scalable formulation for event⨝dimension-history joins at 100 TB.
  *
  * Right rows must be unique per (key, time) — pre-aggregate otherwise
  * (ties would make the carried payload order-dependent).
  */
object AsofJoin {

  def asofBackward(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payloadCols: Seq[String], asofColName: String = "asof"): DataFrame =
    asof(left, right, leftKey, rightKey, leftTime, rightTime, payloadCols, asofColName, forward = false)

  /** Forward as-of: for each left row, the single right row with the
    * SMALLEST rightTime >= leftTime for the same key (inclusive). */
  def asofForward(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payloadCols: Seq[String], asofColName: String = "asof"): DataFrame =
    asof(left, right, leftKey, rightKey, leftTime, rightTime, payloadCols, asofColName, forward = true)

  /** The one builder. `forward` picks the tie order at equal timestamps
    * (right rows BEFORE left rows backward, AFTER them forward, so an
    * exactly-simultaneous right row is visible either way), the frame
    * (running preceding vs following) and last vs first non-null payload. */
  private def asof(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payloadCols: Seq[String], asofColName: String, forward: Boolean): DataFrame = {

    val leftStruct = StructType(left.schema.fields.map(f => StructField(f.name, f.dataType, nullable = true)))
    val payloadStruct = StructType(payloadCols.map(c => right.schema(c)).map(f => f.copy(nullable = true)))

    val lpart = left.select(
      col(leftKey).as("__k"), col(leftTime).as("__t"), lit(0).as("__is_r"),
      lit(null).cast(payloadStruct).as("__p"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("__l"))
    val rpart = right.select(
      col(rightKey).as("__k"), col(rightTime).as("__t"), lit(1).as("__is_r"),
      struct(payloadCols.map(col).toIndexedSeq: _*).cast(payloadStruct).as("__p"),
      lit(null).cast(leftStruct).as("__l"))

    val ordered = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, if (forward) col("__is_r").asc else col("__is_r").desc)
    val carried =
      if (forward) first(col("__p"), ignoreNulls = true)
        .over(ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      else last(col("__p"), ignoreNulls = true)
        .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))

    lpart.unionByName(rpart)
      .withColumn("__asof", carried)
      .filter(col("__is_r") === 0)
      .select(col("__l.*"), col("__asof").as(asofColName))
  }

  /** Convenience: attach the as-of payload as flat columns. */
  def asofBackwardFlat(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payloadCols: Seq[(String, String)]): DataFrame = {
    val joined = asofBackward(left, right, leftKey, rightKey, leftTime, rightTime,
      payloadCols.map(_._1))
    val flat: Seq[Column] =
      left.columns.toIndexedSeq.map(col) ++
        payloadCols.map { case (src, dst) => col(s"asof.$src").as(dst) }
    joined.select(flat: _*)
  }
}
