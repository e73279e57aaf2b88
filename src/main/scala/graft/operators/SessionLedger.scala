package graft.operators

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Everything the engine keeps per SparkSession: one map keyed by
  * (session, key) and one application-end hook per SparkContext. Three
  * kinds of entry:
  *
  *  - table plans (`table`): the DataFrame a path scan builds. Every
  *    `spark.read.parquet(path)` lists files and reads footers again; a
  *    catalog resolves a table to one cached relation, and this reproduces
  *    that for the path-scan harness. Only the logical plan and file
  *    metadata are kept: execution still scans parquet every run.
  *  - memoized frames (`memo`): intermediates a query family reads from
  *    several join sides or queries (shingles, signatures, cluster
  *    labels), persisted once per (session, dir, tag) at `memoLevel`.
  *  - checkpoint blocks (`tracked`/`drop`): the `localCheckpoint` RDDs of
  *    the iterative operators (connected components, PageRank, BPE). A
  *    checkpointed Dataset has no CacheManager entry, so
  *    `Dataset.unpersist` on it does nothing; only this ledger frees them.
  *
  * `release` frees the memo and checkpoint blocks and keeps the table
  * plans: they hold no blocks, and dropping them would add file listing
  * and footer reads to the next query. Everything every session of a
  * context owns, plans included, goes when its application ends, or
  * earlier with `forget` for a session dropped while the application
  * lives.
  *
  * Keys hold the session itself, not an identity hash that a later session
  * could reuse. Unpersisting a checkpoint makes it unrecomputable: `drop`
  * and `release` only what no live plan reads again (superseded loop
  * iterates, or a teardown that releases the memoized consumers too).
  */
object SessionLedger {
  private sealed trait Entry
  private case object Hook extends Entry
  private final case class Plan(df: DataFrame) extends Entry
  private final case class Memo(df: DataFrame) extends Entry
  private final case class Block(rdd: RDD[_]) extends Entry

  /** Keyed by (owner, key): the owner is a session, or for the hook its
    * SparkContext. */
  private val entries = TrieMap.empty[(AnyRef, String), Entry]

  /** Storage level for memoized frames. Deserialized reuse
    * (MEMORY_AND_DISK) is fastest when the heap is roomy, but deserialized
    * block sizes are SizeEstimator ESTIMATES, and under a tight heap the
    * underestimation lets the store overfill physical heap before eviction
    * kicks in: the r15 2 GiB full-registry run died of raw
    * OutOfMemoryError in q48 with every family memo warm, while q48 ALONE
    * at 2 GiB passed. Serialized blocks are byte-exact accounted and ~4×
    * smaller (the same finding that moved the CC edge checkpoint to SER at
    * sf100, r12), so small heaps trade per-reuse deserialization CPU for
    * survival: SER below a 6 GiB max heap. A pure function of the heap
    * size, so the spec can pin both sides without forking a JVM per heap
    * size (MemoLevelSpec). */
  private[graft] def memoLevelFor(maxHeapBytes: Long): StorageLevel =
    if (maxHeapBytes < (6L << 30)) StorageLevel.MEMORY_AND_DISK_SER
    else StorageLevel.MEMORY_AND_DISK

  private val memoLevel: StorageLevel = memoLevelFor(Runtime.getRuntime.maxMemory)

  /** Frees and forgets every entry of every session on `sc` when its
    * application ends, so sessions stopped without `release` do not pin
    * plans and blocks in this JVM-global map. */
  private[graft] final class ContextHook(sc: SparkContext) extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
      def onContext(owner: AnyRef): Boolean = owner match {
        case s: SparkSession => s.sparkContext eq sc
        case other => other eq sc
      }
      entries.foreach {
        case (k, e) if onContext(k._1) && entries.remove(k, e) => free(e)
        case _ => ()
      }
    }
  }

  /** On the first entry of a context's first session, hook its
    * application end. `putIfAbsent` decides the race, so each context gets
    * one listener however many sessions it has. */
  private def hook(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (entries.putIfAbsent((sc, "hook"), Hook).isEmpty) sc.addSparkListener(new ContextHook(sc))
  }

  /** The session's plan for table `name` under `dir`, built once. */
  private[graft] def table(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    hook(spark)
    entries.getOrElseUpdate((spark, s"table:$dir/$name"), Plan(build)).asInstanceOf[Plan].df
  }

  /** The session's frame for (dir, tag), built and persisted once. */
  private[operators] def memo(spark: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame =
    synchronized {
      // synchronized: TrieMap.getOrElseUpdate may run `build` twice under a
      // concurrent first access, persisting an orphan copy release could
      // never free
      hook(spark)
      entries.getOrElseUpdate((spark, s"memo:$dir:$tag"), Memo(build.persist(memoLevel)))
        .asInstanceOf[Memo].df
    }

  /** The exact persisted RDD behind a localCheckpoint'd Dataset. */
  private def rddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Unpersist a memo or checkpoint block; plans and the hook hold none. */
  private def free(e: Entry): Unit =
    try e match {
      case Memo(df) => df.unpersist(blocking = false)
      case Block(r) => r.unpersist(blocking = false)
      case _ => ()
    } catch { case NonFatal(_) => () } // session already stopped: nothing to free

  /** Eager localCheckpoint with its block registered for `release`. */
  private[operators] def tracked(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val spark = df.sparkSession
    hook(spark)
    val cp = df.localCheckpoint(true, level)
    rddOf(cp).foreach(r => entries.put((spark, s"block:${r.id}"), Block(r)))
    cp
  }

  /** Unpersist ONE superseded checkpoint now (loop-iterate eviction). */
  private[operators] def drop(df: DataFrame): Unit = rddOf(df).foreach { r =>
    entries.remove((df.sparkSession, s"block:${r.id}")).foreach(free)
  }

  /** Unpersist every memo and checkpoint block of `spark`; its table plans
    * stay. */
  private[operators] def release(spark: SparkSession): Unit =
    dropWhere(spark, { case _: Memo | _: Block => true; case _ => false })

  /** Drop everything `spark` holds: free its memo and checkpoint blocks and
    * forget its table plans, for a session discarded while its context
    * lives. Other sessions and the context's hook stay. */
  private[graft] def forget(spark: SparkSession): Unit = dropWhere(spark, _ => true)

  /** Remove `spark`'s entries that `pick` selects, freeing their blocks. */
  private def dropWhere(spark: SparkSession, pick: Entry => Boolean): Unit =
    entries.foreach {
      case (k, e) if (k._1 eq spark) && pick(e) && entries.remove(k, e) => free(e)
      case _ => ()
    }

  /** The keys a session holds (`table:`, `memo:` and `block:` entries), for
    * specs. */
  private[graft] def view(spark: SparkSession): Set[String] =
    entries.keys.collect { case (s, k) if s eq spark => k }.toSet
}
