package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.Md5Prefix
import graft.operators.SessionLedger

/** Value-parity of the native md5-prefix long against the
  * `conv(substring(md5(x), 1, n), 16, 10)` composite it replaces — the
  * engine-portable hash under the shingle relation, count-min cells, q78
  * checksum, q97 normalization checksums, and q89's uniform draw. The
  * composite is kept here as the reference so any drift (digest reuse
  * bug, nibble-assembly endianness, odd-nibble handling) fails loudly. */
class Md5PrefixSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val samples = Seq(
    "", "a", "abc", "hello world", "café", "é́ mixed",
    "0:12345", "1:12345", "x" * 1000, "line\nbreak|pipe|tab\tend",
    "世界", "replica-17:documents:42")

  /** An RDD scan, not a local relation: the optimizer folds a projection
    * over local rows through `eval`, so generated code would never run. */
  private def sampleDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(samples, 2).toDF("s")
  }

  /** Is an `Md5Prefix` projection inside a whole-stage-codegen stage? */
  private def fused(df: DataFrame): Boolean =
    TestPlans.fusedProject(df)(_.isInstanceOf[Md5Prefix])

  test("parity with the conv(substring(md5)) composite at 15, 12, 5, 1 nibbles") {
    val df = sampleDocs(spark).select(
      col("s"),
      Md5Prefix.of(col("s").cast("binary"), 15).as("n15"),
      Md5Prefix.of(col("s").cast("binary"), 12).as("n12"),
      Md5Prefix.of(col("s").cast("binary"), 5).as("n5"),
      Md5Prefix.of(col("s").cast("binary"), 1).as("n1"),
      conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10).cast("long").as("r15"),
      conv(substring(md5(col("s").cast("binary")), 1, 12), 16, 10).cast("long").as("r12"),
      conv(substring(md5(col("s").cast("binary")), 1, 5), 16, 10).cast("long").as("r5"),
      conv(substring(md5(col("s").cast("binary")), 1, 1), 16, 10).cast("long").as("r1"))
    assert(fused(df), df.queryExecution.executedPlan.toString)
    val rows = df.collect()
    assert(rows.length == samples.length)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(5), s"15 nibbles: ${r.getString(0)}")
      assert(r.getLong(2) == r.getLong(6), s"12 nibbles: ${r.getString(0)}")
      assert(r.getLong(3) == r.getLong(7), s"5 nibbles: ${r.getString(0)}")
      assert(r.getLong(4) == r.getLong(8), s"1 nibble: ${r.getString(0)}")
    }
  }

  test("parity holds in the INTERPRETED path too (eval, not codegen)") {
    // no whole-stage codegen and no generated projections: Expression.eval
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val df = sampleDocs(s).select(
      Md5Prefix.of(col("s").cast("binary"), 15).as("got"),
      conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
        .cast("long").as("want"))
    assert(!TestPlans.nodes(df).exists(_.isInstanceOf[WholeStageCodegenExec]))
    val rows = df.collect()
    assert(rows.length == samples.length)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    SessionLedger.forget(s)
  }

  test("NULL in, NULL out; codegen projection stays fused") {
    val df = Seq(Some("x"), None).toDF("s")
      .select(Md5Prefix.of(col("s").cast("binary"), 15).as("h"))
    assert(df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .count(_.isEmpty) == 1)
    // fused-codegen assertion needs a non-foldable source (a local Seq
    // constant-folds into a LocalTableScan before any Project exists)
    val wide = spark.range(0, 1000)
      .select(Md5Prefix.of(col("id").cast("string").cast("binary"), 15).as("h"))
    assert(wide.agg(max("h")).first().getLong(0) > 0)
    val plan = wide.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*graft_md5_prefix""".r.findFirstIn(plan).isDefined, plan)
  }
}
