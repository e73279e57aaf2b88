package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, GenerateExec, ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.Winnowing
import graft.operators.{SessionLedger, TextAnalysis}
import graft.sources.Tables

/** `graft_winnowing` against the relational plan q39 ran before it: explode
  * gram positions, md5 each `substr`, window minimum over `ROWS BETWEEN
  * CURRENT ROW AND 3 FOLLOWING`, `(doc_id, fp)` distinct, doc-grain
  * aggregate. That plan is kept here as the reference, on the built-in hex
  * `md5()`, as the oracle computes it. */
class WinnowingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def reference(docs: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 3)
    docs
      .repartition(col("doc_id"))
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 7)).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(col("text").substr(col("pos"), lit(8)).cast("binary")).as("h"))
      .withColumn("fp", min(col("h")).over(win))
      .select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("fp_count"), min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
  }

  /** q39's shape over any documents frame. */
  private def winnowed(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= Winnowing.GramChars)
      .select(col("doc_id"), Winnowing.of(col("text")).as("fp"))
      .select(col("doc_id"), col("fp.*"))

  private def rows(df: DataFrame): Seq[(Long, Long, String, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSeq.sortBy(_._1)

  /** Past the scratch a thread keeps: mixed 1- to 4-byte code points. */
  private val longText: String = {
    val rnd = new scala.util.Random(39)
    val alphabet = Seq("a", "b", "c", " ", "é", "世", "😀")
    val sb = new StringBuilder
    while (sb.toString.getBytes("UTF-8").length <= Winnowing.KeptBytes)
      sb ++= Seq.fill(1000)(alphabet(rnd.nextInt(alphabet.size))).mkString
    sb.toString
  }

  private val edgeTexts: Seq[Option[String]] = Seq(
    None,
    Some("abcdefg"), // 7 code points: no gram
    Some("abcdefgh"), // one gram, one window
    Some("abcdefghi"), // two grams: every window is a tail window
    Some("abcdefghijk"), // four grams: one full window, three tail windows
    Some("ab" * 12), // two distinct grams repeated: fp_count < windows
    Some("the cat sat on the mat; the cat sat on the mat."),
    Some("café crème, café noir, café au lait"), // 2-byte code points
    Some("世界你好世界你好世界你好"), // 3-byte code points
    Some("😀 smile 😀😀 grin 🙂 end😀"), // 4-byte, two UTF-16 units each
    Some("😀😀😀😀😀😀😀😀"), // 8 code points, 32 bytes
    Some("世界世界世界世"), // 7 code points, 21 bytes
    Some("é́é́é́é́x"), // combining marks count as code points
    Some(longText))

  /** An RDD scan, not a local relation: the optimizer would fold a
    * projection over local rows through the interpreted path. */
  private def edgeDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(edgeTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 2)
      .toDF("doc_id", "text")
  }

  test("fingerprints equal the relational reference on edge documents (codegen)") {
    val got = winnowed(edgeDocs(spark))
    assert(TestPlans.nodes(got).exists(_.isInstanceOf[WholeStageCodegenExec]))
    val want = rows(reference(edgeDocs(spark)))
    assert(rows(got) == want)
    // the edge set reaches what it is for: tail-only documents, a repeated
    // minimum and 4-byte grams
    assert(want.exists(_._1 == 3L) && want.exists(_._1 == 4L))
    assert(want.exists(r => r._1 == 5L && r._2 == 1L))
    assert(want.exists(_._1 == 10L) && !want.exists(_._1 == 11L))
    assert(want.exists(r => r._1 == 13L && r._2 > 1000L))
  }

  test("fingerprints equal the relational reference on edge documents (interpreted)") {
    // a rand() column does not take a projection out of codegen; these do
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val got = winnowed(edgeDocs(s))
    assert(!TestPlans.nodes(got).exists(_.isInstanceOf[WholeStageCodegenExec]))
    assert(rows(got) == rows(reference(edgeDocs(spark))))
    SessionLedger.forget(s)
  }

  test("NULL text gives NULL; fewer than k code points give (0, NULL, NULL)") {
    val r = edgeDocs(spark).select(Winnowing.of(col("text")).as("fp"))
      .select(col("fp.*")).collect()
    assert(r(0).isNullAt(0))
    assert(r(1).getLong(0) == 0L && r(1).isNullAt(1) && r(1).isNullAt(2))
    assert(r(11).getLong(0) == 0L && r(11).isNullAt(1) && r(11).isNullAt(2))
  }

  test("q39 equals the relational reference on the sf0.001 corpus") {
    val dir = TestSpark.sf0001
    val got = rows(TextAnalysis.q39Winnowing.run(spark, dir))
    assert(got.nonEmpty)
    assert(got == rows(reference(Tables(spark, dir, "documents"))))
  }

  test("q39's plan: one documents scan, no exchange, window, generate or aggregate") {
    val df = TextAnalysis.q39Winnowing.run(spark, TestSpark.sf0001)
    df.collect()
    val nodes = TestPlans.nodes(df)
    assert(nodes.count(_.isInstanceOf[FileSourceScanLike]) == 1, nodes.mkString("\n"))
    assert(!nodes.exists {
      case _: ShuffleExchangeLike | _: WindowExec | _: GenerateExec | _: BaseAggregateExec => true
      case _ => false
    }, nodes.mkString("\n"))
    // evaluated once, not once per struct field
    def winnows(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.expressions.map(_.collect { case w: Winnowing => w }.size).sum
    assert(nodes.map(winnows).sum == 1, nodes.mkString("\n"))
    // and inside a whole-stage-codegen Project
    assert(nodes.exists {
      case w: WholeStageCodegenExec =>
        w.child.collect { case p: ProjectExec if winnows(p) == 1 => p }.nonEmpty
      case _ => false
    }, nodes.mkString("\n"))
  }
}
