package graft.expressions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints of one document (Schleimer, Wilkerson and Aiken,
  * SIGMOD 2003) as `struct<fp_count, min_fp, max_fp>`: md5 every 8-code-point
  * gram, take the minimum of each 4-gram window, count the distinct minima
  * and report the smallest and largest as lowercase hex.
  *
  * One pass over the UTF-8 bytes does the whole relational formulation:
  * grams start at code points (`UTF8String.numBytesForFirstByte`, the
  * stepping `length` and `substr` use), so gram i is `substr(text, i, 8)`;
  * window i covers grams i..i+3 truncated at the last gram, as `ROWS
  * BETWEEN CURRENT ROW AND 3 FOLLOWING` truncates it; a monotone deque gives
  * every window minimum in O(grams). Digests stay 16 raw bytes compared
  * unsigned, which is lowercase-hex order, so minimum, maximum and distinct
  * set equal the ones SQL computes over `md5()` strings.
  *
  * Fewer than 8 code points: (0, NULL, NULL); NULL in, NULL out. `doGenCode`
  * is one static call, so the projection stays in whole-stage codegen.
  */
case class Winnowing(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input")

  override def dataType: DataType = Winnowing.resultType
  override def prettyName: String = "graft_winnowing"

  override def nullSafeEval(input: Any): Any =
    Winnowing.fingerprints(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.Winnowing.fingerprints($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Winnowing {
  /** Column wrapper for DataFrame call sites. */
  def of(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      Winnowing(org.apache.spark.sql.graftbridge.Bridge.expression(text)))

  private[graft] val GramChars = 8 // code points per gram
  private val WindowGrams = 4
  private[graft] val KeptBytes = 16 << 10 // longest text whose Scratch a thread keeps

  private val resultType: StructType = StructType(Seq(
    StructField("fp_count", LongType, nullable = false),
    StructField("min_fp", StringType),
    StructField("max_fp", StringType)))

  /** Working memory, grown to fit exactly. A thread keeps one for texts up
    * to `KeptBytes`; a longer text gets its own. MessageDigest is reset by
    * `digest()`, and task threads never share an expression evaluation. */
  private final class Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val digest: ByteBuffer = ByteBuffer.allocate(16)
    var starts = new Array[Int](0) // byte offset of each code point, then the end
    var hashes = new Array[Long](0) // gram g's digest at (2g, 2g + 1)
    var deque = new Array[Int](0) // gram positions with increasing digests
    var slots = new Array[Int](0) // distinct minima: gram position + 1, 0 = empty
  }

  private val scratch: ThreadLocal[Scratch] = ThreadLocal.withInitial(() => new Scratch)

  /** md5 of `bytes[off, off + len)` as two big-endian longs at
    * `out(2 * slot)` and `out(2 * slot + 1)`. */
  private[graft] def md5Into(md: MessageDigest, digest: ByteBuffer, bytes: Array[Byte],
      off: Int, len: Int, out: Array[Long], slot: Int): Unit = {
    md.update(bytes, off, len)
    md.digest(digest.array(), 0, 16)
    out(2 * slot) = digest.getLong(0)
    out(2 * slot + 1) = digest.getLong(8)
  }

  /** Unsigned order of the digests at slots `a` and `b`: the order of their
    * bytes, and so of their lowercase hex. */
  private[graft] def compareAt(h: Array[Long], a: Int, b: Int): Int = {
    val c = java.lang.Long.compareUnsigned(h(2 * a), h(2 * b))
    if (c != 0) c else java.lang.Long.compareUnsigned(h(2 * a + 1), h(2 * b + 1))
  }

  /** The digest at `slot` as 32 lowercase hex characters, what `md5()` prints. */
  private[graft] def hexAt(h: Array[Long], slot: Int): UTF8String =
    UTF8String.fromString(f"${h(2 * slot)}%016x${h(2 * slot + 1)}%016x")

  /** Adds the digest at gram `at` to the open-addressing set `slots`
    * (`mask + 1` entries); false when an equal digest is already in. */
  private def addDistinct(slots: Array[Int], mask: Int, h: Array[Long], at: Int): Boolean = {
    var i = h(2 * at + 1).toInt & mask // md5 bits are uniform: no further mixing
    while (slots(i) != 0) {
      if (compareAt(h, slots(i) - 1, at) == 0) return false
      i = (i + 1) & mask
    }
    slots(i) = at + 1
    true
  }

  /** Java-callable from generated code. */
  def fingerprints(text: UTF8String): InternalRow = {
    val sc = if (text.numBytes() <= KeptBytes) scratch.get() else new Scratch
    val buf = text.getByteBuffer // the row's bytes in place when array-backed
    val bytes = buf.array()
    val end = buf.arrayOffset() + buf.position() + text.numBytes()

    if (sc.starts.length <= text.numBytes()) sc.starts = new Array[Int](text.numBytes() + 1)
    val starts = sc.starts
    var chars = 0
    var i = buf.arrayOffset() + buf.position()
    while (i < end) {
      starts(chars) = i
      chars += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(chars) = end // a truncated last code point ends at the last byte

    val grams = chars - GramChars + 1
    if (grams <= 0) return new GenericInternalRow(Array[Any](0L, null, null))
    if (sc.deque.length < grams) {
      sc.hashes = new Array[Long](2 * grams)
      sc.deque = new Array[Int](grams)
    }
    val h = sc.hashes
    val capacity = Integer.highestOneBit(2 * grams - 1) << 1 // load factor <= 1/2
    if (sc.slots.length < capacity) sc.slots = new Array[Int](capacity)
    else java.util.Arrays.fill(sc.slots, 0, capacity, 0)
    val slots = sc.slots
    val dq = sc.deque
    var head = 0
    var tail = 0
    var count = 0L
    var last = -1
    var minAt = -1
    var maxAt = -1
    // gram g is hashed as it enters the deque; the minimum of window
    // `start` is the deque's front once positions before `start` have left it
    var start = 1 - WindowGrams
    var g = 0
    while (start < grams) {
      if (g < grams) {
        md5Into(sc.md, sc.digest, bytes, starts(g), starts(g + GramChars) - starts(g), h, g)
        while (tail > head && compareAt(h, dq(tail - 1), g) >= 0) tail -= 1
        dq(tail) = g
        tail += 1
        g += 1
      }
      if (start >= 0) {
        while (dq(head) < start) head += 1
        val at = dq(head)
        if (at != last && addDistinct(slots, capacity - 1, h, at)) {
          count += 1
          if (minAt < 0 || compareAt(h, at, minAt) < 0) minAt = at
          if (maxAt < 0 || compareAt(h, at, maxAt) > 0) maxAt = at
        }
        last = at
      }
      start += 1
    }
    new GenericInternalRow(Array[Any](count, hexAt(h, minAt), hexAt(h, maxAt)))
  }
}
