package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary as a custom Catalyst
  * `TypedImperativeAggregate` — the (b)-rung aggregate counterpart of the
  * scalar DotProduct expression, and the mergeable-sketch
  * shape a 100 TB frequency query wants: each partition keeps at most `k`
  * counters (constant memory, no per-term shuffle), partial summaries merge
  * associatively (Agarwal et al. 2012, "Mergeable Summaries"), and the
  * combined error is bounded by N/(k+1) over the total stream length N.
  *
  * Guarantees (deterministic regardless of partitioning/merge order, which
  * is what the oracle checks):
  *   - every term with true count > N/(k+1) is present in the summary;
  *   - each reported estimate e satisfies  true − N/(k+1) ≤ e ≤ true.
  * The individual counter values DO depend on merge order — queries must
  * assert the guarantees (q19's error-flag technique), never raw counters.
  *
  * Update is the classic algorithm: increment a live counter, else claim a
  * free slot, else decrement ALL counters by one (amortized O(1) per item).
  * Merge sums both maps, then restores the k-bound by subtracting the
  * (k+1)-th largest value from every counter and dropping the non-positive
  * ones. eval() emits array<struct<term,est>> sorted (est desc, term asc)
  * so the output ordering itself is deterministic given the counters.
  */
case class HeavyHitters(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
  with UnaryLike[Expression] {

  require(k >= 1, "heavy-hitters summary needs at least one counter")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty[String, Long]

  override def update(buf: mutable.HashMap[String, Long], input: InternalRow)
      : mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val term = v.asInstanceOf[UTF8String].toString
      buf.get(term) match {
        case Some(c) => buf.update(term, c + 1)
        case None if buf.size < k => buf.update(term, 1L)
        case None =>
          // decrement-all: every live counter pays one; zeroed slots free up
          val dead = mutable.ArrayBuffer.empty[String]
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.foreach { case (t, c) => if (c <= 0) dead += t }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(b1: mutable.HashMap[String, Long], b2: mutable.HashMap[String, Long])
      : mutable.HashMap[String, Long] = {
    b2.foreach { case (t, c) => b1.update(t, b1.getOrElse(t, 0L) + c) }
    if (b1.size > k) {
      // subtract the (k+1)-th largest counter from all; ≤ 0 drops out —
      // the mergeable-summaries reduction that preserves the error bound
      val pivot = b1.values.toArray.sortWith(_ > _).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      b1.mapValuesInPlace((_, c) => c - pivot)
      b1.foreach { case (t, c) => if (c <= 0) dead += t }
      dead.foreach(b1.remove)
    }
    b1
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toArray.sortBy { case (t, c) => (-c, t) }
    new GenericArrayData(sorted.map { case (t, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(t), c))
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) =>
      val b = t.getBytes("UTF-8")
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      buf.update(new String(b, "UTF-8"), in.readLong())
    }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType), StructField("est", LongType))))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_heavy_hitters"

  override def withNewMutableAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HeavyHitters =
    copy(child = newChild)
}

object HeavyHitters {
  /** Column wrapper for DataFrame call sites (batch q95 and the streaming
    * window aggregate build the same sketch through it). */
  def of(c: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      HeavyHitters(org.apache.spark.sql.graftbridge.Bridge.expression(c), k)
        .toAggregateExpression())
}
