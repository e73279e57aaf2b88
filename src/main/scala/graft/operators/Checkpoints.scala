package graft.operators

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped ledger for `localCheckpoint` blocks (VERDICT r14 item 6).
  *
  * Every iterative operator here (connected components, PageRank, BPE
  * training) localCheckpoints its loop iterate to truncate lineage — but a
  * checkpointed Dataset has NO CacheManager entry, so `Dataset.unpersist`
  * on it is a silent no-op, and nothing else ever frees the block: the
  * r15 concurrent-session spec measured 8 persisted RDDs surviving
  * `releaseCaches` across three sessions. A long-lived multi-tenant driver
  * accumulates one block set per invocation until the ContextCleaner
  * happens to GC them — non-deterministic, and never while a memoized plan
  * still references the final iterate.
  *
  * `tracked` wraps localCheckpoint and records the underlying persisted
  * RDD (the LogicalRDD behind the returned Dataset) under the session;
  * loops `drop` superseded iterates eagerly (bounding live checkpoint
  * blocks to O(1) per loop instead of O(iterations)); `release` frees
  * whatever is left — wired into [[Dedup.releaseCaches]], which Verify,
  * Bench, and the spec teardowns already call. A session that never
  * releases explicitly is covered by the same application-end hook
  * pattern the dedup memo uses.
  *
  * Unpersisting a checkpointed RDD makes it unrecomputable — callers must
  * only `drop`/`release` iterates that no live plan will read again
  * (superseded loop states, or family teardown where the memoized
  * consumers are released in the same call).
  */
object Checkpoints {
  private val live = TrieMap.empty[(SparkSession, Int), RDD[_]]
  private val hooked =
    TrieMap.empty[SparkSession, org.apache.spark.scheduler.SparkListener]

  /** The exact persisted RDD behind a localCheckpoint'd Dataset. */
  private def rddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Eager localCheckpoint with its block registered for session-scoped
    * release. */
  def tracked(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val spark = df.sparkSession
    hooked.getOrElseUpdate(spark, {
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          release(spark)
      }
      spark.sparkContext.addSparkListener(l)
      l
    })
    val cp = df.localCheckpoint(true, level)
    rddOf(cp).foreach(r => live.put((spark, r.id), r))
    cp
  }

  /** Unpersist ONE superseded checkpoint now (loop-iterate eviction). */
  def drop(df: DataFrame): Unit = rddOf(df).foreach { r =>
    live.remove((df.sparkSession, r.id))
    try r.unpersist(blocking = false) catch { case NonFatal(_) => () }
  }

  /** Unpersist every checkpoint still tracked for `spark` and drop its
    * application-end hook. */
  def release(spark: SparkSession): Unit = {
    live.keys.filter(_._1 eq spark).foreach { k =>
      live.remove(k).foreach(r =>
        try r.unpersist(blocking = false) catch { case NonFatal(_) => () })
    }
    hooked.remove(spark).foreach { l =>
      try spark.sparkContext.removeSparkListener(l) catch {
        case NonFatal(_) => ()
      }
    }
  }

  /** Checkpoint blocks currently tracked for a session (spec hook). */
  def trackedIdsFor(spark: SparkSession): Set[Int] =
    live.keys.collect { case (s, id) if s eq spark => id }.toSet
}
