package graft

import java.util.concurrent.Executors

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, SessionLedger, SimilaritySearch}

/** Concurrent-session safety (VERDICT r14 item 6): SessionLedger's entries
  * and hooks are keyed by SparkSession and synchronized, but until this
  * spec nothing ran two sessions through the dedup/similarity families AT
  * THE SAME TIME. Three `newSession()` children (shared SparkContext,
  * separate session state — the multi-tenant shape a long-lived driver
  * serves) run the whole family concurrently in interleaving-hostile
  * orders; every result must match the sequential baseline, and after
  * per-session releaseCaches the shared context must hold exactly the
  * persisted blocks it held before the test (no cross-session eviction, no
  * leaked blocks, no leaked memo keys).
  */
class ConcurrentSessionsSpec extends AnyFunSuite {
  private val root = TestSpark.spark
  private val dir = TestSpark.sf0001

  private val family = Seq(
    Dedup.q30ExactDedup, Dedup.q31NgramJaccard, Dedup.q32MinHashLsh,
    Dedup.q33SimHash, Dedup.q48DedupClusters, Dedup.q113DedupSurvivorsLsh,
    Dedup.q34EmbeddingDups, SimilaritySearch.q36LshTopK)

  /** Partitioning-independent row-multiset fingerprint. */
  private def fp(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("3 sessions × 8 dedup/similarity queries concurrently: identical results, no leaked blocks") {
    val preBlocks = root.sparkContext.getPersistentRDDs.keySet

    // sequential baseline in the root session
    val baseline: Map[String, Seq[String]] =
      family.map(q => q.name -> fp(q.run(root, dir))).toMap
    Dedup.releaseCaches(root)

    val sessions = Seq.fill(3)(root.newSession())
    val pool = Executors.newFixedThreadPool(sessions.length)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // each session runs the family in a different rotation, so first-touch
      // memoization of the shared relations races across sessions while
      // every session still touches every tag
      val runs = sessions.zipWithIndex.map { case (s, i) =>
        Future {
          val rotated = family.drop(i * 3 % family.length) ++
            family.take(i * 3 % family.length)
          rotated.map(q => (i, q.name, fp(q.run(s, dir))))
        }
      }
      val results = Await.result(Future.sequence(runs), 10.minutes).flatten
      results.foreach { case (i, name, got) =>
        assert(got == baseline(name),
          s"session $i produced a different $name result under concurrency")
      }
      // while warm, each session owns its own memo entries
      sessions.foreach(s =>
        assert(SessionLedger.view(s).exists(_.startsWith("memo:")),
          "memo should be warm per session"))
    } finally {
      sessions.foreach(Dedup.releaseCaches)
      pool.shutdown()
    }
    sessions.foreach(s =>
      assert(!SessionLedger.view(s).exists(_.startsWith("memo:")),
        "memo keys must not outlive release"))
    // releaseCaches unpersists async (blocking=false): poll briefly before
    // declaring a leak
    val deadline = System.nanoTime() + 30.seconds.toNanos
    var leaked = root.sparkContext.getPersistentRDDs.keySet -- preBlocks
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(250)
      leaked = root.sparkContext.getPersistentRDDs.keySet -- preBlocks
    }
    assert(leaked.isEmpty,
      s"persisted blocks leaked past releaseCaches: ids=$leaked")
  }
}
