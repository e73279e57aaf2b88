package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{TopK, TopKPerGroupExec}
import graft.sources.Tables

/** Custom physical operator: correctness vs the window formulation, plan
  * shape (partial + exchange + final), and shuffle-volume reduction. */
class TopKPerGroupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def windowTopK() = {
    import org.apache.spark.sql.expressions.Window
    Tables(spark, TestSpark.sf0001, "part")
      .withColumn("rk", row_number().over(Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)))
      .filter(col("rk") <= 3).drop("rk")
  }

  private def nativeTopK() =
    TopK.perGroup(Tables(spark, TestSpark.sf0001, "part"),
      Seq("p_brand"),
      Seq("p_retailprice" -> false, "p_partkey" -> true), 3)

  test("native top-k matches the window row_number formulation exactly") {
    val a = nativeTopK().collect().map(_.toString).sorted.toSeq
    val b = windowTopK().collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("plan contains partial and final GraftTopKPerGroup stages around one exchange") {
    val plan = TestPlans.finalPlan(nativeTopK())
    def topK(p: SparkPlan, partial: Boolean) = TestPlans.nodes(p).collectFirst {
      case t: TopKPerGroupExec if t.partial == partial => t
    }
    // final → exchange → partial, each below the one before
    val fin = topK(plan, partial = false)
    assert(fin.isDefined, plan)
    val exchange = TestPlans.nodes(fin.get).collectFirst { case e: ShuffleExchangeExec => e }
    assert(exchange.isDefined, s"expected final → exchange → partial, got:\n$plan")
    assert(topK(exchange.get, partial = true).isDefined,
      s"expected final → exchange → partial, got:\n$plan")
  }

  test("ties at the boundary respect the total order (tiebreak column)") {
    import spark.implicits._
    val df = Seq(
      ("g", 10.0, 1L), ("g", 10.0, 2L), ("g", 10.0, 3L), ("g", 5.0, 4L))
      .toDF("grp", "score", "id")
    val got = TopK.perGroup(df, Seq("grp"), Seq("score" -> false, "id" -> true), 2)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L))
  }
}
