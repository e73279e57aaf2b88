package graft.plans

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Whole-operator custom plan: top-k rows per group — SURVEY.md §7.3 ladder
  * step (c): LogicalPlan + SparkStrategy + SparkPlan; `TopK.perGroup` adds
  * the strategy to the session's `experimental.extraStrategies` through
  * `TopK.register`.
  *
  * Why a physical operator: the declarative formulation
  * (row_number over a window, then filter rank <= k) must SORT every
  * partition fully before ranking. This operator keeps one bounded heap per
  * group — O(n log k) per partition, no full sort — and runs as a
  * partial/final pair like hash aggregation: the map-side stage caps each
  * group at k rows BEFORE the exchange, so the shuffle moves at most
  * k·groups·mapPartitions rows instead of the whole input. At 100 TB with
  * small k this is the difference between shuffling terabytes and megabytes.
  *
  * Top-k is a semigroup (topk(topk(A) ∪ topk(B)) = topk(A ∪ B)), so the
  * two stages run the identical algorithm. The caller's sort order must be
  * total (include a tiebreak) for deterministic results.
  */
final case class TopKPerGroup(
    groupExprs: Seq[Expression], sortOrder: Seq[SortOrder], k: Int, child: LogicalPlan)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Two-stage physical top-k.
  *
  * Partial (map side): one bounded heap per group, SPILL-SAFE via a group
  * cap — the heap map never exceeds `maxGroups` entries; once at the cap,
  * rows of unseen groups pass through un-reduced (exactly Spark hash
  * aggregation's fallback contract: partial reduction is an optimization,
  * never required for correctness). Memory is thus bounded by
  * maxGroups · k rows regardless of grouping-key cardinality.
  *
  * Final (reduce side): requires the child SORTED by (group, sortOrder), so
  * EnsureRequirements plants Spark's spillable SortExec under this node
  * (external sort — disk-backed at any cardinality), and the operator itself
  * is a constant-memory streaming scan emitting the first k rows per group
  * run. The sort input is already partial-reduced (≤ k·groups·mapPartitions
  * rows + fallback pass-through), so the sort is over the shrunken relation,
  * not the raw input — keeping the measured 4–9× win over the window
  * formulation while never risking executor OOM on high-cardinality keys.
  * Group expressions must be orderable types (true for all grouping keys the
  * engine emits; enforced implicitly by SortOrder analysis). */
final case class TopKPerGroupExec(
    groupExprs: Seq[Expression], sortOrder: Seq[SortOrder], k: Int,
    partial: Boolean, maxGroups: Int, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def nodeName: String = if (partial) "GraftTopKPerGroup (partial)" else "GraftTopKPerGroup (final)"

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution) else Seq(ClusteredDistribution(groupExprs))

  private def groupOrder: Seq[SortOrder] =
    groupExprs.map(e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil) else Seq(groupOrder ++ sortOrder)

  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else groupOrder ++ sortOrder

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val gExprs = groupExprs
    val order = sortOrder
    val limit = k
    val cap = maxGroups
    if (partial) {
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(gExprs, childOutput)
        val ord = GenerateOrdering.generate(order, childOutput)
        // max-heap in sort order: head = currently-worst kept row
        val heapOrd: Ordering[InternalRow] = (a, b) => ord.compare(a, b)
        val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
        val reduced = iter.flatMap { row =>
          val key = keyProj(row)
          heaps.get(key) match {
            case Some(heap) =>
              if (heap.size < limit) heap.enqueue(row.copy())
              else if (ord.compare(row, heap.head) < 0) { heap.dequeue(); heap.enqueue(row.copy()) }
              Iterator.empty
            case None if heaps.size < cap =>
              val h = mutable.PriorityQueue.empty[InternalRow](heapOrd)
              h.enqueue(row.copy())
              heaps.put(key.copy(), h)
              Iterator.empty
            case None =>
              Iterator.single(row.copy()) // at cap: pass through, final stage reduces
          }
        }
        // `++` is by-name: the drain runs only after the input is exhausted
        reduced ++ heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
      }, preservesPartitioning = true)
    } else {
      // Child is sorted by (group, sortOrder): emit the first k rows of each
      // group run. O(1) memory; the sort below spills via SortExec.
      child.execute().mapPartitions({ iter =>
        val keyProj = UnsafeProjection.create(gExprs, childOutput)
        var curKey: UnsafeRow = null
        var emitted = 0
        iter.filter { row =>
          val key = keyProj(row)
          if (curKey == null || key != curKey) {
            curKey = key.copy()
            emitted = 0
          }
          emitted += 1
          emitted <= limit
        }
      }, preservesPartitioning = true)
    }
  }
}

object TopKStrategy extends SparkStrategy {
  /** Partial-stage group cap: bounds map-side heap memory at cap·k rows.
    * Past the cap, unseen-group rows are shuffled un-reduced (correct, just
    * less pre-aggregated) — the standard partial-agg fallback contract. */
  val MaxGroupsKey = "spark.graft.topk.maxGroupsPerPartition"

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      val cap = org.apache.spark.sql.internal.SQLConf.get
        .getConfString(MaxGroupsKey, (1 << 18).toString).toInt
      val partial = TopKPerGroupExec(g, o, k, partial = true, cap, planLater(child))
      TopKPerGroupExec(g, o, k, partial = false, cap, partial) :: Nil
    case _ => Nil
  }
}

/** Public API: top-k rows per group (original columns, no rank column).
  * Ordering keys are (columnName, ascending) pairs, resolved directly
  * against the input's analyzed output — include a tiebreak for
  * deterministic results. */
object TopK {
  def perGroup(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    register(spark)
    val analyzed = df.queryExecution.analyzed
    val byName = analyzed.output.map(a => a.name -> a).toMap
    def attr(name: String): Attribute =
      byName.getOrElse(name, throw new IllegalArgumentException(
        s"column $name not in ${byName.keys.mkString(", ")}"))
    // Float/double group keys: canonicalize -0.0/NaN so the byte-wise
    // UnsafeRow key compares in the exec agree with the semantic sort order
    // (the NormalizeFloatingNumbers rule doesn't visit custom logical nodes).
    val groupExprs: Seq[Expression] = groupCols.map(c => Bridge.normalizeFloats(attr(c)))
    val sortOrder = orderCols.map { case (name, asc) =>
      SortOrder(attr(name),
        if (asc) org.apache.spark.sql.catalyst.expressions.Ascending
        else org.apache.spark.sql.catalyst.expressions.Descending)
    }
    Bridge.ofRows(spark, TopKPerGroup(groupExprs, sortOrder, k, analyzed))
  }

  /** Idempotent runtime strategy registration. */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ TopKStrategy
    }
}
