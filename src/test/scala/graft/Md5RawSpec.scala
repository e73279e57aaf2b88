package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.Md5Raw

/** Value- and ORDER-parity of the raw-digest md5 against the built-in hex
  * form it replaces in hot paths (q39 winnowing's per-gram loop). Two
  * contracts matter: (1) `lower(hex(graft_md5_raw(x))) == md5(x)` exactly;
  * (2) Spark's unsigned bytewise BINARY comparison ranks raw digests in
  * the same order as lexicographic comparison of the lowercase-hex
  * strings — so MIN/MAX/DISTINCT/ORDER BY over the raw form are
  * drop-in. The hex built-in is kept as the reference so any drift
  * (digest reuse bug, hex casing, ordering asymmetry) fails loudly. */
class Md5RawSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val samples = Seq(
    "", "a", "abc", "hello world", "café", "é́ mixed",
    "0:12345", "1:12345", "x" * 1000, "line\nbreak|pipe|tab\tend",
    "世界", "replica-17:documents:42")

  test("lower(hex(raw)) == built-in md5 hex, codegen path") {
    val df = samples.toDF("s").select(
      col("s"),
      lower(hex(Md5Raw.of(col("s").cast("binary")))).as("got"),
      md5(col("s").cast("binary")).as("want"))
    df.collect().foreach(r => assert(r.getString(1) == r.getString(2), r.getString(0)))
  }

  test("parity holds in the INTERPRETED path too (eval, not codegen)") {
    val df = samples.toDF("s")
      .withColumn("r", rand(7)) // non-deterministic → eval path downstream
      .select(
        lower(hex(Md5Raw.of(col("s").cast("binary")))).as("got"),
        md5(col("s").cast("binary")).as("want"))
    df.collect().foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("binary MIN/MAX/sort order == hex-string order (the q39 contract)") {
    // 10k diverse inputs: the full ranking must agree, not just endpoints.
    val n = 10000
    val df = spark.range(0, n)
      .select(col("id"), col("id").cast("string").cast("binary").as("b"))
      .select(
        Md5Raw.of(col("b")).as("raw"),
        md5(col("b")).as("hx"))
      .cache()
    try {
      val byRaw = df.orderBy(col("raw")).select(col("hx")).collect().map(_.getString(0))
      val byHex = df.orderBy(col("hx")).select(col("hx")).collect().map(_.getString(0))
      assert(byRaw.sameElements(byHex))
      val agg = df.agg(
        lower(hex(min(col("raw")))).as("rawMin"), min(col("hx")).as("hexMin"),
        lower(hex(max(col("raw")))).as("rawMax"), max(col("hx")).as("hexMax")).first()
      assert(agg.getString(0) == agg.getString(1))
      assert(agg.getString(2) == agg.getString(3))
    } finally df.unpersist()
  }

  test("NULL in, NULL out; codegen projection stays fused") {
    val df = Seq(Some("x"), None).toDF("s")
      .select(Md5Raw.of(col("s").cast("binary")).as("h"))
    assert(df.collect().count(_.isNullAt(0)) == 1)
    val wide = spark.range(0, 1000)
      .select(Md5Raw.of(col("id").cast("string").cast("binary")).as("h"))
    assert(wide.agg(max("h")).first().get(0) != null)
    val plan = wide.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*graft_md5_raw""".r.findFirstIn(plan).isDefined, plan)
  }
}
