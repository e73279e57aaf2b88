package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SessionLedger
import graft.sources.Tables

/** `Tables(spark, dir, name)` memoizes the table DataFrame per
  * (session, dir, name): query builders that read one table many times
  * share one file listing and footer read, while another data directory
  * or another session gets its own relation. */
class TablesMemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("a repeated (session, dir, name) returns the same DataFrame") {
    val a = Tables(spark, TestSpark.sf0001, "orders")
    assert(Tables(spark, TestSpark.sf0001, "orders") eq a)
    assert(Tables(spark, TestSpark.sf0001, "lineitem") ne a)
  }

  test("another dir returns a different DataFrame") {
    assert(Tables(spark, TestSpark.sf001, "orders") ne
      Tables(spark, TestSpark.sf0001, "orders"))
  }

  test("another session returns a different DataFrame") {
    val other = spark.newSession()
    val a = Tables(other, TestSpark.sf0001, "orders")
    assert(a ne Tables(spark, TestSpark.sf0001, "orders"))
    assert(a.sparkSession eq other)
    assert(Tables(other, TestSpark.sf0001, "orders") eq a)
    SessionLedger.forget(other)
  }
}
