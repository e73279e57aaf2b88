package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Pins the optimization-r18 executed-plan shapes: queries whose duplicate
  * subtrees were unified so AQE exchange reuse materializes each shared
  * relation ONCE (notNull keys, always-true pruning anchors, collapse-
  * blocking counts — see OPTIMIZATION_r18.md). The invariant checked is
  * the FINAL adaptive plan's parquet-scan count: an optimizer change (or a
  * careless refactor) that re-splits the branches turns into extra
  * corpus scans here, not silently at 100 TB. Counts are an upper bound —
  * fewer scans is progress, more is a regression.
  */
class ReuseShapeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Executed plan's FileSourceScan count + ReusedExchange count after a
    * real collect (AQE final plan — the initial plan over-states). */
  private def shape(name: String): (Int, Int) = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf0001)
    df.collect()
    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    var scans = 0
    var reused = 0
    // AQE materializes stages as LEAF QueryStageExec nodes whose executed
    // subtree hangs off a field, not `children` — a plain foreach sees
    // none of the scans/reuses. Recurse through stages explicitly.
    def walk(p: SparkPlan): Unit = {
      val fp = finalPlan(p)
      fp.foreach {
        case _: FileSourceScanLike => scans += 1
        case r: ReusedExchangeExec => reused += 1
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case a: AdaptiveSparkPlanExec => walk(a) // nested adaptive (subquery)
        case _ => ()
      }
      // subqueries carry their own adaptive plans
      fp.subqueriesAll.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    (scans, reused)
  }

  /** query -> max allowed FileSourceScan nodes in the final plan. */
  private val maxScans: Map[String, Int] = Map(
    "q68_pagerank_step" -> 1,  // was 5: pair-distinct exchange reused by degrees/counts/contrib
    "q73_rare_terms" -> 1,     // was 2: df branch rereads the tf exchange
    "q112_source_similarity" -> 1, // was 3 executed (12 static): one (source,term) exchange
    "q59_nullsafe_join" -> 1,  // was 2: dim branch rereads the JSON-parse aggregate
    "q44_cohort_retention" -> 1, // was 2: cohort = min over the distinct week relation
    "q80_count_min" -> 1,      // was 2: cells derived from the exact per-user aggregate
    "q49_hll_union" -> 1,      // was 2: both branches over one distinct pair relation
    "q109_cluster_cards" -> 2, // was 3: one documents + one embeddings scan
    "q67_curation_pipeline" -> 3, // was 5: quality+fingerprint+spine fused
    "q102_bigram_lm" -> 2,     // was 3: notNull bigram keys unify the count copies
    "q103_dsir_weights" -> 2,  // was 3: same
    // r19 (CHANGES.md):
    "q108_boilerplate_strip" -> 1, // was 2: (source,btxt,doc_id) occurrence-pack
                                   // aggregate read by both freq and the join
    "q100_chi2_terms" -> 1,    // was 2: class totals = the null-term sentinel
                               // group of the one term-keyed aggregate
    "q19_events_sketches" -> 2) // one pruned events scan per branch
                                // (distinct users | values), joined on type

  for ((name, cap) <- maxScans.toSeq.sortBy(_._1)) {
    test(s"$name executed plan holds its deduplicated scan count (<= $cap)") {
      val (scans, _) = shape(name)
      assert(scans <= cap,
        s"$name: $scans parquet scans in the final adaptive plan (expected <= $cap) — " +
          "a shared subtree stopped canonicalizing equal; see OPTIMIZATION_r18.md " +
          "(notNull keys / pruning anchors) before accepting this regression")
    }
  }

  test("the reuse machinery itself is live (q68 has ReusedExchange nodes)") {
    val (_, reused) = shape("q68_pagerank_step")
    assert(reused >= 3,
      s"q68: only $reused ReusedExchange nodes — AQE stage reuse stopped firing")
  }
}
