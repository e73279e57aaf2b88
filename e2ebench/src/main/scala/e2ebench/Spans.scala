package e2ebench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** A timed interval of one layer. Times are seconds since the run began. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Double, end: Double) {
  def duration: Double = end - start
}

object Spans {
  /** Total length of the union of `intervals`, each clipped to [lo, hi].
    * Overlapping intervals (concurrent Spark jobs, say) count once. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- clipped) {
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Time a span spent itself: its duration minus the union of its
    * children's intervals. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.duration - unionLength(children.map(c => (c.start, c.end)), span.start, span.end)

  /** Self time summed per layer over a whole span tree. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfTime(s, kids.getOrElse(s.id, Nil))).sum
    }
  }
}

/** In-memory span store for one run. Spans are appended by the harness
  * thread and by Spark's listener thread, and written out once at the end. */
final class SpanRecorder(t0Nanos: Long) {
  private val nextId = new AtomicLong(1)
  private val spans = ArrayBuffer.empty[Span]
  private val epochAtT0Ms = System.currentTimeMillis() -
    (System.nanoTime() - t0Nanos) / 1000000.0

  def now(): Double = (System.nanoTime() - t0Nanos) / 1e9
  /** Converts an epoch-millisecond event time (Spark listener events) to
    * run-relative seconds. */
  def fromEpochMs(ms: Long): Double = (ms - epochAtT0Ms) / 1000.0

  def newId(): Long = nextId.getAndIncrement()

  private val frameIds = scala.collection.mutable.Set.empty[Long]

  def add(s: Span): Unit = spans.synchronized { spans += s }

  /** Adds a span of the harness thread itself (run, pass, stage, query,
    * build, execute); these can hold spans whose parent is not known. */
  def addFrame(s: Span): Unit = spans.synchronized { spans += s; frameIds += s.id }

  /** Spans without a known parent get the innermost harness span that
    * contains them in time (the harness runs one query at a time). */
  def withOrphansAttached: Seq[Span] = {
    val (ss, ids) = spans.synchronized((spans.toList, frameIds.toSet))
    val frames = ss.filter(s => ids(s.id))
    ss.map { s =>
      if (s.parent != 0 || ids(s.id)) s
      else {
        val holders = frames.filter(f => f.id != s.id && f.start <= s.start && s.end <= f.end)
        if (holders.isEmpty) s else s.copy(parent = holders.minBy(_.duration).id)
      }
    }
  }
}
