package graft

import java.nio.file.Path

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir
import graft.operators.Learn

/** VERDICT r17 item 2: the q102/q103 corpus-LM join must not FORCE a
  * broadcast of a corpus-growing relation (distinct bigrams reach 10⁸–10¹⁰
  * on a web-scale corpus; Spark hard-fails broadcasts above 8 GB). Pins
  * Learn.lmBroadcastFor's pure branches, and — over a PLANTED large-vocab
  * fixture whose on-disk size exceeds a test-scoped cap — that the plan
  * DEGRADES to a shuffle join (no broadcast exchange on the LM side) while
  * staying row-for-row identical to the broadcast plan. The degrade test
  * also disables AQE's runtime broadcast upgrade to simulate an LM that is
  * genuinely too big to broadcast, so the executed shuffle path itself is
  * what's certified.
  */
class LmJoinGuardSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("lmBroadcastFor: the corpus-bytes cap decides") {
    // broadcast iff 0 < corpusBytes <= cap
    assert(Learn.lmBroadcastFor(1L << 20, 1L << 30))
    assert(Learn.lmBroadcastFor(1L << 30, 1L << 30)) // boundary inclusive
    assert(!Learn.lmBroadcastFor((1L << 30) + 1, 1L << 30))
    // unknown/missing corpus (0 bytes) must NOT claim broadcast-safe
    assert(!Learn.lmBroadcastFor(0L, 1L << 30))
  }

  /** Planted large-vocab corpus: 400 docs × 40 words drawn from a ~4k-word
    * vocabulary with doc-dependent stride, so nearly every bigram is
    * distinct — the "LM grows with the corpus" regime the guard exists
    * for. Deterministic (index arithmetic, no RNG). */
  private def plantFixture(dir: Path): String = {
    val rows = (0 until 400).map { d =>
      val words = (0 until 40)
        .map(j => s"w${(d * 37 + j * (d % 13 + 1)) % 4096}")
      val text = words.mkString(" ")
      val lang = if (d % 3 == 0) "en" else "xx"
      Row(d.toLong, text, lang, "planted", text.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  private def lmJoinKinds(name: String, dir: String): (Boolean, Boolean) = {
    val nodes = TestPlans.nodes(SparkEntry.queries(name)(spark, dir).queryExecution.sparkPlan)
    // the LM join is the only equi-join in q102/q103, so plan-wide
    // presence checks identify its strategy unambiguously.
    (nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      nodes.exists(n => n.isInstanceOf[SortMergeJoinExec] || n.isInstanceOf[ShuffledHashJoinExec]))
  }

  test("planted large-vocab fixture: over-cap corpus degrades the LM join " +
      "to a shuffle join with identical results") {
    withTempDir { tmp =>
      val dir = plantFixture(tmp)
      val onDisk = Learn.corpusBytes(spark, dir)
      assert(onDisk > 0, "fixture produced no bytes")
      for (name <- Seq("q102_bigram_lm", "q103_dsir_weights")) {
        // Posture A — under the default 1 GiB cap: hinted broadcast plan.
        val (bhjSmall, _) = lmJoinKinds(name, dir)
        assert(bhjSmall, s"$name: under-cap corpus should plan a broadcast LM join")
        val expected = SparkEntry.queries(name)(spark, dir)
          .collect().map(_.toString).sorted

        // "LM exceeds the broadcast threshold" simulated the way the planner
        // would see it on a 10 GB LM: size estimates above the threshold ⇒
        // no estimate-based BHJ. autoBroadcastJoinThreshold=-1 (both static
        // and AQE) is the planner's stand-in for that, set BEFORE planning.
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          // Posture B — contrast leg: with the hint still FORCED (under-cap),
          // the threshold is ignored and the plan broadcasts anyway. This is
          // exactly the 8 GB-hard-fail hazard the guard exists to remove.
          val (bhjForced, _) = lmJoinKinds(name, dir)
          assert(bhjForced,
            s"$name: hinted plan should ignore the threshold (guard is load-bearing)")

          // Posture C — over-cap: the guard drops the hint, the plan MUST
          // degrade to a shuffle join, and the executed shuffle path must be
          // row-identical to the broadcast path.
          Learn.lmBroadcastCapOverride = Some(onDisk - 1)
          val (bhjBig, shuffleBig) = lmJoinKinds(name, dir)
          assert(!bhjBig && shuffleBig,
            s"$name: over-cap corpus must plan a shuffle LM join (bhj=$bhjBig)")
          val df = SparkEntry.queries(name)(spark, dir)
          val got = df.collect().map(_.toString).sorted
          assert(!TestPlans.nodes(df).exists(_.isInstanceOf[BroadcastHashJoinExec]),
            s"$name: executed over-cap plan still broadcasts")
          assert(got.sameElements(expected),
            s"$name: shuffle-path rows differ from broadcast-path rows")
        } finally {
          Learn.lmBroadcastCapOverride = None
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
      }
    }
  }
}
