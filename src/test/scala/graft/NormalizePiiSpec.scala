package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.NormalizeText
import graft.operators.TextAnalysis

/** The round-6 text-canonicalization surface: the native `graft_normalize`
  * expression (NFC / NFKC / strip-accents), the PII redaction pass (q96),
  * and the BPE merge superstep (q98). The DuckDB oracle pins the corpus
  * aggregates; these pin the per-value semantics and a driver-side
  * brute-force recount of the BPE argmax. */
class NormalizePiiSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val dir = TestSpark.sf0001

  private def norm(s: String, mode: String): String =
    spark.range(1).select(TextAnalysis.normalizeText(lit(s), mode)).as[String].head()

  test("graft_normalize: NFC composes, NFKC folds compatibility forms, strip de-accents") {
    // decomposed a + U+0301 composes to one precomposed code point
    assert(norm("á", "nfc") == "á")
    assert(norm("á", "nfc") == "á") // idempotent on composed input
    // NFKC folds the fi-ligature and circled digits to their plain forms
    assert(norm("ﬁle ①", "nfkc") == "file 1")
    // strip handles composed AND decomposed spellings identically
    assert(norm("café", "strip") == "cafe")
    assert(norm("café", "strip") == "cafe")
    assert(norm("plain ascii 42", "strip") == "plain ascii 42")
  }

  test("graft_normalize: null propagates and non-string input is rejected") {
    assert(spark.range(1)
      .select(TextAnalysis.normalizeText(lit(null).cast("string"), "nfc"))
      .collect()(0).isNullAt(0))
    intercept[Exception] {
      spark.range(1).select(TextAnalysis.normalizeText(lit(1), "nfc")).collect()
    }
    intercept[Exception] {
      TextAnalysis.normalizeText(lit("x"), "bogus-mode")
    }
  }

  test("graft_normalize stays inside whole-stage codegen (no fallback projection)") {
    val df = spark.range(100).select(
      TextAnalysis.normalizeText(concat(lit("wárd"), col("id")), "strip").as("s"))
    val plan = df.queryExecution.executedPlan.toString
    // the star prefix marks operators fused into a WholeStageCodegen stage;
    // a CodegenFallback expression would force an unstarred Project
    assert("""\*\(\d+\) Project \[graft_normalize""".r.findFirstIn(plan).isDefined, plan)
    // and the compiled path agrees with the interpreted eval
    assert(df.as[String].collect().forall(_.startsWith("ward")))
    val interpreted = NormalizeText.normalize(
      org.apache.spark.unsafe.types.UTF8String.fromString("wárd7"),
      NormalizeText.StripMode).toString
    assert(interpreted == "ward7")
  }

  test("q96: every planted PII instance is found and none survives redaction") {
    val out = TextAnalysis.q96PiiRedaction.run(spark, dir).cache()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as[Long]).collect()
    // the planting arithmetic is the ground truth: residues 7 / 11 / 13
    assert(out.agg(sum("email_hits")).as[Long].head() == docs.count(_ % 7 == 0))
    assert(out.agg(sum("ip_hits")).as[Long].head() == docs.count(_ % 11 == 0))
    assert(out.agg(sum("card_hits")).as[Long].head() == docs.count(_ % 13 == 0))
    // redaction is complete: re-scanning the redacted text finds zero hits
    val redacted = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("t", concat(col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(lit(" from 10."),
          (col("doc_id") % 256).cast("string"), lit(".0."),
          (col("doc_id") % 97).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit(" card 4111111111111111 on file")).otherwise(lit(""))))
      .select(regexp_replace(regexp_replace(regexp_replace(col("t"),
        TextAnalysis.EmailRe, "<EMAIL>"), TextAnalysis.Ipv4Re, "<IP>"),
        TextAnalysis.PanRe, "<NUM>").as("r"))
    val survivors = redacted.filter(
      col("r").rlike(TextAnalysis.EmailRe) ||
      col("r").rlike(TextAnalysis.Ipv4Re) ||
      col("r").rlike(TextAnalysis.PanRe)).count()
    assert(survivors == 0)
    out.unpersist()
  }

  test("q97: accent-strip roundtrips every document and NFC shrinks chars and bytes") {
    val out = TextAnalysis.q97NormalizeUnicode.run(spark, dir).cache()
    assert(out.filter(col("roundtrip_docs") =!= col("docs")).count() == 0)
    // each injected combining mark costs 1 char and 1 byte under NFC
    // (U+0301 is 2 bytes; á as one code point is 2 bytes but drops the 'a')
    assert(out.filter(col("nfc_chars") >= col("injected_chars")).count() == 0)
    assert(out.filter(col("nfc_bytes") >= col("injected_bytes")).count() == 0)
    out.unpersist()
  }

  test("q98: merge table equals a driver-side brute-force pair count") {
    val out = TextAnalysis.q98BpeMergeStep.run(spark, dir)
      .orderBy(col("rank")).as[(Int, String, Long)].collect()
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("text").as[String]).collect()
      .flatMap(_.trim.split("\\s+")).filter(_.length >= 2)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (w <- words; i <- 0 until w.length - 1) {
      val p = w.substring(i, i + 2)
      counts(p) = counts.getOrElse(p, 0L) + 1L
    }
    val expected = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
      .zipWithIndex.map { case ((p, n), i) => (i + 1, p, n) }
    assert(out.toSeq == expected)
  }
}
