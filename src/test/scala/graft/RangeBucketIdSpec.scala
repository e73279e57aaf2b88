package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.RangeBucketId
import graft.operators.{Ranks, SessionLedger}

/** The constant-code-size bucket search behind Ranks.withGlobalOrder.
  * The load-bearing property is the sf100 find: bucket COUNT must never
  * influence generated-code size, or realistic shuffle.partitions settings
  * evict the whole consumer stage (q84's scorer) from whole-stage codegen
  * — the old literal CASE tree compiled at the 32-partition gate and blew
  * Janino's 64 KB method limit at 256. */
class RangeBucketIdSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** reference semantics: number of bounds the key sorts strictly after
    * (lexicographic, per-column direction; equal ⇒ earlier bucket). */
  private def refBucket(values: Seq[Any], asc: Seq[Boolean],
      bounds: Seq[Seq[Any]]): Int = {
    def cmp1(x: Any, y: Any): Int = (x, y) match {
      case (a: String, b: String) =>
        val (ab, bb) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
        ab.zip(bb).map { case (i, j) => (i & 0xff) - (j & 0xff) }
          .find(_ != 0).getOrElse(ab.length - bb.length)
      case (a: java.lang.Comparable[_], b) =>
        a.asInstanceOf[java.lang.Comparable[Any]].compareTo(b)
    }
    def lex(b: Seq[Any]): Int =
      values.indices.iterator
        .map(i => { val c = cmp1(values(i), b(i)); if (asc(i)) c else -c })
        .find(_ != 0).getOrElse(0)
    bounds.count(b => lex(b) > 0)
  }

  test("4095-bound search: codegen survives and matches reference") {
    // bounds at this width previously generated a CASE tree well past the
    // 64 KB Janino method limit; the stage must stay fused (starred
    // Project) and agree with the brute-force reference at every point —
    // including exact bound hits (equal stays earlier).
    val bounds = (1 to 4095).map(i => Seq[Any](i.toLong * 3))
    val expr = RangeBucketId(
      Seq(Bridge.expression(col("id"))), Seq(true),
      bounds.map(_.toArray).toArray)
    val df = spark.range(0, 20000)
      .select(col("id"), Bridge.column(expr).as("pid"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*graft_range_bucket_id""".r
      .findFirstIn(plan).isDefined, plan)
    val got = df.as[(Long, Int)].collect().toMap
    for (id <- Seq(0L, 1L, 2L, 3L, 4L, 2999L, 3000L, 3001L, 12285L, 12286L, 19999L)) {
      assert(got(id) == refBucket(Seq(id), Seq(true), bounds),
        s"id=$id got=${got(id)}")
    }
  }

  private val mixedBounds = Seq(
    Seq[Any]("bb", 10L), Seq[Any]("bb", 5L), Seq[Any]("dd", 99L))
    // driver-sort order: (s asc, v desc) ⇒ ("bb",10) before ("bb",5)

  /** (s, v, pid) over string/descending keys and one NULL key, from an RDD
    * scan, not a local relation: the optimizer folds a projection over
    * local rows through `eval`, so generated code would never run. */
  private def mixedBuckets(s: SparkSession): DataFrame = {
    import s.implicits._
    val rows = Seq(("aa", 1L), ("bb", 11L), ("bb", 10L), ("bb", 7L),
      ("bb", 5L), ("bb", 1L), ("cc", 50L), ("dd", 99L), ("zz", 0L))
      .map { case (k, v) => (Option(k), v) } :+ ((None, 2L))
    s.sparkContext.parallelize(rows, 2).toDF("s", "v").select(col("s"), col("v"),
      Bridge.column(RangeBucketId(
        Seq(Bridge.expression(col("s")), Bridge.expression(col("v"))),
        Seq(true, false), mixedBounds.map(_.toArray).toArray)).as("pid"))
  }

  /** Every row's bucket is the reference's; the NULL key's is -1. */
  private def assertMixedBuckets(df: DataFrame): Unit = {
    val rows = df.collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val exp = if (r.isNullAt(0)) -1
        else refBucket(Seq(r.getString(0), r.getLong(1)), Seq(true, false), mixedBounds)
      assert(r.getInt(2) == exp, s"row=$r expected=$exp")
    }
  }

  test("multi-column mixed-direction keys match reference; NULL key → -1") {
    val df = mixedBuckets(spark)
    assert(TestPlans.fusedProject(df)(_.isInstanceOf[RangeBucketId]),
      df.queryExecution.executedPlan.toString)
    assertMixedBuckets(df)
  }

  test("multi-column keys match reference in the INTERPRETED path too") {
    // no whole-stage codegen and no generated projections: Expression.eval
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val df = mixedBuckets(s)
    assert(!TestPlans.nodes(df).exists(_.isInstanceOf[WholeStageCodegenExec]))
    assertMixedBuckets(df)
    SessionLedger.forget(s)
  }

  test("withGlobalOrder end-to-end at a 256-partition session stays fused") {
    // a dedicated session at cluster-like shuffle partitions (1024 buckets)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "256")
    import s2.implicits._
    val df = s2.range(0, 50000).select(
      (col("id") * 2654435761L % 100003L).as("k"), col("id"))
    val ranked = Ranks.withGlobalOrder(df,
      Seq(col("k").asc, col("id").asc), "rank")
    val plan = ranked.queryExecution.executedPlan.toString
    // the pid projection is the native search, not an inlined literal tree
    // (the offsets branch legitimately keeps small CASE WHEN guards, so
    // assert on the pid expression itself)
    assert(plan.contains("graft_range_bucket_id"), plan)
    assert("""graft_range_bucket_id\([^)]*bounds=\d+\)""".r.findFirstIn(plan)
      .forall(!_.contains("CASE")), "bounds inlined back into the plan?")
    val got = ranked.orderBy(col("rank")).select("k", "id", "rank")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 50000)
    // global rank = position in the total (k, id) order, 1-based
    val expected = got.map(t => (t._1, t._2)).sorted.zipWithIndex
      .map { case ((k, id), i) => (k, id, i + 1L) }
    assert(got.sortBy(_._3).sameElements(expected))
    SessionLedger.forget(s2)
  }
}
