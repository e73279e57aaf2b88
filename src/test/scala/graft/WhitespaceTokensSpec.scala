package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.WhitespaceTokens
import graft.operators.SessionLedger

/** Value-parity of the native byte-scan tokenizer against the
  * `split(s, "\\s+")` built-in it replaces under TextAnalysis.words —
  * including the edge semantics Java's split(regex, -1) defines: empty
  * input → [""], leading separator → leading "" token, trailing
  * separator run → one trailing "" token, and non-ASCII whitespace
  * (NBSP, ideographic space) NOT treated as a separator. */
class WhitespaceTokensSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val samples = Seq(
    "", "a", "a b", "a  b", " a", "a ", " ", "  ", "a\tb\nc\rd\fe",
    "ab", "tab\t\t\tend ", "\n\nx\n\n", "café über 世界",
    "nbsp stays", "ideo　stays", "mix   y", "x" * 500,
    ("w " * 200).trim, "\t", "a\nb")

  /** An RDD scan, not a local relation: the optimizer folds a projection
    * over local rows through `eval`, so generated code would never run. */
  private def sampleDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(samples, 2).toDF("s")
  }

  /** Is a `WhitespaceTokens` projection inside a whole-stage-codegen stage? */
  private def fused(df: DataFrame): Boolean =
    TestPlans.fusedProject(df)(_.isInstanceOf[WhitespaceTokens])

  test("parity with split(s, '\\\\s+') on edge samples, codegen path") {
    val df = sampleDocs(spark).select(
      col("s"),
      WhitespaceTokens.of(col("s")).as("got"),
      split(col("s"), "\\s+").as("want"))
    assert(fused(df), df.queryExecution.executedPlan.toString)
    val rows = df.collect()
    assert(rows.length == samples.length)
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"input=${r.getString(0).replace("\n", "\\n")}")
    }
  }

  test("parity in the INTERPRETED path (eval, not codegen)") {
    // no whole-stage codegen and no generated projections: Expression.eval
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val df = sampleDocs(s).select(
      WhitespaceTokens.of(col("s")).as("got"),
      split(col("s"), "\\s+").as("want"))
    assert(!TestPlans.nodes(df).exists(_.isInstanceOf[WholeStageCodegenExec]))
    val rows = df.collect()
    assert(rows.length == samples.length)
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    SessionLedger.forget(s)
  }

  test("JVM-level parity with String.split on the same samples") {
    samples.foreach { s =>
      val got = WhitespaceTokens
        .split(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val want = s.split("\\s+", -1)
      assert(got.numElements() == want.length, s"count for '$s'")
      (0 until got.numElements()).foreach(i =>
        assert(got.getUTF8String(i).toString == want(i), s"token $i of '$s'"))
    }
  }

  test("corpus invariant: documents carry no 0x0B and no invalid UTF-8") {
    // Guards the two latent cross-engine asymmetries noted in the
    // expression scaladoc: RE2's \s excludes vertical tab (Java's
    // includes it), and the engines handle malformed UTF-8 differently.
    // Both are inert iff the corpus contains neither; if the generator
    // ever changes, this fails loudly instead of the oracles drifting.
    val bad = graft.sources.Tables(spark, TestSpark.sf001, "documents")
      .select(col("text"))
      .filter(col("text").contains("\u000b") ||
        // decode(encode(s)) != s exactly when the UTF-8 is invalid
        // (decode replaces bad sequences with U+FFFD)
        decode(encode(col("text"), "UTF-8"), "UTF-8") =!= col("text"))
      .count()
    assert(bad == 0L, s"$bad documents re-arm the \\x0B / invalid-UTF-8 divergence")
  }

  test("NULL in, NULL out; codegen projection stays fused") {
    val df = Seq(Some("x y"), None).toDF("s")
      .select(WhitespaceTokens.of(col("s")).as("w"))
    assert(df.collect().count(_.isNullAt(0)) == 1)
    val wide = spark.range(0, 1000)
      .select(WhitespaceTokens.of(concat(col("id").cast("string"),
        lit(" tail"))).as("w"))
    assert(wide.agg(sum(size(col("w")))).first().getLong(0) == 2000L)
    val plan = wide.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*graft_ws_tokens""".r.findFirstIn(plan).isDefined, plan)
  }
}
