package e2ebench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's noop write evaluates every output column; `count()` does
  * not, because Catalyst prunes a count's plan down to what the row count
  * needs. A column that raises on every row tells the two apart. */
class MaterializationSpec extends AnyFunSuite {
  private val spark = BenchSpark.spark

  private def poisoned =
    spark.range(100).select(col("id"),
      when(col("id") >= 0, raise_error(lit("poisoned column evaluated"))).as("payload"))

  test("count() never evaluates the non-key column") {
    assert(poisoned.count() == 100)
  }

  test("the noop materialization evaluates it and fails") {
    val e = intercept[Exception](Workload.noop(poisoned))
    assert(e.toString.contains("poisoned column evaluated") ||
      Option(e.getCause).exists(_.toString.contains("poisoned column evaluated")))
  }
}
