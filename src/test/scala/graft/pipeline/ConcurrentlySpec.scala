package graft.pipeline

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

object ConcurrentlySpec {
  /** Counted down by the slow step's task once it runs (tasks run in this
    * JVM under local mode). */
  val slowStarted = new CountDownLatch(1)
}

/** Fail-fast in `OlistPipeline.concurrently`: the first failure cancels
  * the jobs its siblings still run, instead of waiting for them. */
class ConcurrentlySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("a failed step cancels a sibling's running job") {
    val slowTaskS = 60
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException](OlistPipeline.concurrently(spark, Seq(
      "slow" -> (() => spark.sparkContext.parallelize(Seq(1), 1).foreach { _ =>
        ConcurrentlySpec.slowStarted.countDown()
        val tc = TaskContext.get()
        val end = System.nanoTime() + slowTaskS * 1000000000L
        while (!tc.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
      }),
      "broken" -> (() => {
        assert(ConcurrentlySpec.slowStarted.await(30, TimeUnit.SECONDS), "slow job never ran")
        throw new IllegalStateException("boom")
      }))))
    val tookS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.startsWith("step broken failed"), e.getMessage)
    assert(e.getSuppressed.exists(s => String.valueOf(s.getMessage).toLowerCase.contains("cancel")),
      s"the slow step should have failed with a cancellation: ${e.getSuppressed.toSeq}")
    assert(tookS < slowTaskS / 2, s"took $tookS s: the slow job ran to its end")
  }
}
