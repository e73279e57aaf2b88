package graft

import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, SessionLedger}
import graft.sources.Tables

/** `Dedup.releaseCaches` frees what the session ledger persisted (memoized
  * frames, checkpoint blocks) and keeps the table plans, and a released
  * memo re-builds on the next query with the same rows. One
  * application-end listener per context frees and forgets every session's
  * entries. */
class SessionLedgerSpec extends AnyFunSuite {
  private val dir = TestSpark.sf0001

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Waits out asynchronous unpersists (blocking = false) and returns the
    * persisted RDDs still present beyond `pre`. */
  private def persistedBeyond(pre: Set[Int]): Set[Int] = {
    val sc = TestSpark.spark.sparkContext
    val deadline = System.nanoTime() + 30L * 1000000000L
    var left = sc.getPersistentRDDs.keySet -- pre
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      left = sc.getPersistentRDDs.keySet -- pre
    }
    left.toSet
  }

  private def hooks = ListenerBusProbe.listeners(TestSpark.spark.sparkContext)
    .collect { case h: SessionLedger.ContextHook => h }

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
      val leaked = persistedBeyond(pre.toSet)
      assert(leaked.isEmpty, s"persisted RDDs left after releaseCaches: $leaked")

      assert(rows(Dedup.q32MinHashLsh.run(s, dir)) == q32)
      assert(SessionLedger.view(s).exists(_.startsWith("memo:")), "q32 must re-memoize")
    } finally SessionLedger.forget(s)
  }

  test("20 child sessions reading a table add at most one listener to the context") {
    val sc = TestSpark.spark.sparkContext
    val before = ListenerBusProbe.listeners(sc).size
    val children = Seq.fill(20)(TestSpark.spark.newSession())
    children.foreach(c => Tables(c, dir, "documents"))
    assert(ListenerBusProbe.listeners(sc).size <= before + 1)
    assert(hooks.size == 1)
    children.foreach(c => assert(SessionLedger.view(c) == Set(s"table:$dir/documents")))

    // discarding the children drops their plans; the parent's and the hook stay
    Tables(TestSpark.spark, dir, "documents")
    val parent = SessionLedger.view(TestSpark.spark)
    children.foreach(SessionLedger.forget)
    children.foreach(c => assert(SessionLedger.view(c).isEmpty))
    assert(SessionLedger.view(TestSpark.spark) == parent)
    assert(parent.contains(s"table:$dir/documents"))
    assert(hooks.size == 1)
  }

  test("application end frees and forgets the entries of every session on the context") {
    val sc = TestSpark.spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet.toSet
    val (a, b) = (TestSpark.spark.newSession(), TestSpark.spark.newSession())
    Tables(a, dir, "documents")
    Dedup.q32MinHashLsh.run(b, dir).count()
    assert(SessionLedger.view(b).exists(_.startsWith("memo:")))

    val hook = hooks
    assert(hook.size == 1)
    hook.head.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    sc.removeSparkListener(hook.head) // a real application end stops the bus with it
    Seq(a, b, TestSpark.spark).foreach(s => assert(SessionLedger.view(s).isEmpty))
    val leaked = persistedBeyond(pre)
    assert(leaked.isEmpty, s"persisted RDDs left after application end: $leaked")

    // the context's next entry hooks it again
    Tables(a, dir, "documents")
    assert(hooks.size == 1)
  }
}
