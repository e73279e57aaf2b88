package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Cleanse.moneySum

/** Incremental aggregate maintenance — the materialized-view refresh path a
  * 100 TB lake needs: a dashboard aggregate over the full corpus is never
  * recomputed from raw data; instead a compact STATE table (one row per
  * group, mergeable partials) absorbs each new delta partition. Everything
  * here is algebraic: count/sum merge by addition, min/max by min/max, avg
  * derives at read time, and distinct counts ride an HLL sketch (binary,
  * associatively unionable — the same mergeable-sketch shape as q49).
  * Refresh cost is O(|delta| + |state|), independent of lake size.
  */
object Incremental {

  /** Partial-aggregate state of `raw` grouped by `key`: exact decimal sums
    * (order-independent merges — double sums would drift under re-merging),
    * min/max, and an HLL sketch of `distinctCol`. */
  def aggState(raw: DataFrame, key: String, valueCol: String,
      distinctCol: String): DataFrame =
    raw.groupBy(col(key)).agg(
      count(lit(1)).as("cnt"),
      moneySum(col(valueCol)).as("sum_v"),
      min(col(valueCol)).as("min_v"),
      max(col(valueCol)).as("max_v"),
      hll_sketch_agg(col(distinctCol)).as("distinct_sk"))

  /** Merge any number of state tables into one: the refresh step. Because
    * every column is algebraic, merging is a plain re-aggregation of the
    * unioned states — associative and commutative, so deltas can arrive in
    * any order and states can be merged hierarchically (per-hour → per-day
    * → total) without changing the result. */
  def mergeStates(states: Seq[DataFrame], key: String): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col(key)).agg(
        sum(col("cnt")).as("cnt"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        hll_union_agg(col("distinct_sk")).as("distinct_sk"))

  /** Read-time view over a state table: the user-facing aggregate (avg
    * derived from exact partials, distinct estimated from the sketch). */
  def readState(state: DataFrame, key: String): DataFrame =
    state.select(col(key), col("cnt"),
      col("sum_v").cast("double").as("sum_value"),
      // divide in DOUBLE: decimal division re-scales with operand precision,
      // so a twice-merged state (precision 38) would round differently than
      // a once-aggregated one — double division of the exact partials is
      // state-shape-independent
      (col("sum_v").cast("double") / col("cnt").cast("double")).as("avg_value"),
      col("min_v"), col("max_v"),
      round(hll_sketch_estimate(col("distinct_sk"))).cast("long")
        .as("approx_distinct"))

  /** Test-only crash injection for the kill-and-resume specs
    * (IncrementalSpec): when set to Some((pathMarker, point)), a refresh
    * whose state path contains `pathMarker` throws at `point` —
    * "afterMarker" (staged state + batch marker written, swap not yet run)
    * or "afterCommit" (swap complete, checkpoint offset NOT yet committed —
    * the classic replay window). One-shot: the hook disarms itself as it
    * fires, so the restarted query replays the batch without test
    * bookkeeping. Never set outside tests; mid-WRITE kills are injected
    * separately via ScaleLayout.failpoint, which the staging write below
    * routes through. */
  private[graft] val crashpoint =
    new java.util.concurrent.atomic.AtomicReference[Option[(String, String)]](None)

  private def maybeCrash(statePath: String, point: String): Unit =
    crashpoint.get() match {
      case some @ Some((marker, p)) if p == point && statePath.contains(marker) =>
        crashpoint.compareAndSet(some, None)
        throw new RuntimeException(s"graft crashpoint: injected $point failure")
      case _ => ()
    }

  /** Streaming refresh: a foreachBatch sink that folds each micro-batch's
    * partial state into the parquet state table — the streaming half of
    * the materialized view (batch deltas and stream batches are the SAME
    * algebraic merge). Parquet is not transactional, so exactly-once comes
    * from a batch-id marker: a replayed micro-batch (restart between sink
    * write and checkpoint commit) is detected and skipped, making the
    * non-idempotent merge effectively idempotent; the state rewrite itself
    * uses the rename-aside staged swap (crash-recoverable). State table
    * size is O(groups), so the per-batch rewrite is cheap at any lake
    * size; a production sink at huge group cardinality would swap parquet
    * for a keyed store and merge in place. */
  def streamingRefresh(stream: DataFrame, key: String, valueCol: String,
      distinctCol: String, statePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.hadoop.fs.Path
        val spark = batch.sparkSession
        val hPath = new Path(statePath)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // crash between stagedSwap's two renames strands the live state at
        // path+".old" with path absent; roll it back before consulting the
        // markers, or the replayed batch would merge against EMPTY state and
        // silently drop every previously merged aggregate.
        val oldPath = new Path(statePath + ".old")
        if (!fs.exists(hPath) && fs.exists(oldPath)) { fs.rename(oldPath, hPath); () }
        // the high-water batch id travels INSIDE the state dir as an
        // underscore-prefixed file (invisible to the parquet reader), so
        // the rename swap publishes data + marker atomically — a replayed
        // batch after ANY crash point sees either the old state (marker <
        // id: merge runs again, old data) or the new one (marker == id:
        // skip). No crash point can double-merge.
        val mergedIds =
          if (fs.exists(hPath))
            fs.listStatus(hPath).map(_.getPath.getName)
              .filter(_.startsWith("_merged_batch_"))
              .map(_.stripPrefix("_merged_batch_").toLong)
          else Array.empty[Long]
        if (!mergedIds.exists(_ >= batchId)) {
          val delta = aggState(batch, key, valueCol, distinctCol)
          val merged =
            if (fs.exists(hPath))
              mergeStates(Seq(spark.read.parquet(statePath), delta), key)
            else delta
          val staging = statePath + ".refresh"
          ScaleLayout.withFailpoint(merged, staging)
            .write.mode("overwrite").parquet(staging)
          fs.create(new Path(staging, s"_merged_batch_$batchId"), true).close()
          maybeCrash(statePath, "afterMarker")
          if (fs.exists(hPath)) ScaleLayout.stagedSwap(fs, statePath, staging)
          else { fs.rename(new Path(staging), hPath); () }
          maybeCrash(statePath, "afterCommit")
        }
      }
      .start()
}
