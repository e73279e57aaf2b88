package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, SessionLedger}
import graft.sources.Tables

/** `Dedup.releaseCaches` frees what the session ledger persisted (memoized
  * frames, checkpoint blocks) and keeps the table plans, and a released
  * memo re-builds on the next query with the same rows. */
class SessionLedgerSpec extends AnyFunSuite {
  private val dir = TestSpark.sf0001

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("releaseCaches frees memo and checkpoint blocks, keeps table plans, and re-memoizes") {
    val sc = TestSpark.spark.sparkContext
    val s = TestSpark.spark.newSession()
    val pre = sc.getPersistentRDDs.keySet
    try {
      val docs = Tables(s, dir, "documents")
      Dedup.q48DedupClusters.run(s, dir).count()
      val q32 = rows(Dedup.q32MinHashLsh.run(s, dir))
      val held = SessionLedger.view(s)
      assert(held.contains(s"table:$dir/documents"), held)
      assert(held.exists(_.startsWith("memo:")), held)
      assert(held.exists(_.startsWith("block:")), held) // q48's final label iterate
      assert((sc.getPersistentRDDs.keySet -- pre).nonEmpty)

      Dedup.releaseCaches(s)
      assert(SessionLedger.view(s).forall(_.startsWith("table:")), SessionLedger.view(s))
      assert(Tables(s, dir, "documents") eq docs)
      // unpersist is asynchronous (blocking = false): poll before calling it a leak
      val deadline = System.nanoTime() + 30L * 1000000000L
      var leaked = sc.getPersistentRDDs.keySet -- pre
      while (leaked.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100)
        leaked = sc.getPersistentRDDs.keySet -- pre
      }
      assert(leaked.isEmpty, s"persisted RDDs left after releaseCaches: $leaked")

      assert(rows(Dedup.q32MinHashLsh.run(s, dir)) == q32)
      assert(SessionLedger.view(s).exists(_.startsWith("memo:")), "q32 must re-memoize")
    } finally Dedup.releaseCaches(s)
  }
}
