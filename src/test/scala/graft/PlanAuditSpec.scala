package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide physical-plan audit: no query may contain a cartesian or
  * nested-loop join stage unless it is on the DELIBERATE list (documented
  * all-pairs ground truths and tiny-literal broadcast probes). This is the
  * scale guard: a refactor that silently turns an equi-join into a
  * non-equi join (dropping the hash-joinable key) fails here, not at
  * 100 TB.
  */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Queries whose nested-loop stage is the documented point of the plan:
    * all-pairs oracle ground truths (q34), corpus×broadcast(tiny) probes
    * (q35 brute-force baseline, q37's 8×10 centroid probe, q65's ADC
    * codebook, q84's one-row stats relation, q49/q51-style 1-row
    * summary cross joins). */
  private val deliberate: Set[String] = Set(
    "q34_dedup_embedding",   // all-pairs cosine ground truth (scale path: q36/q38)
    "q35_ann_bruteforce",    // corpus × broadcast(8 queries) exact baseline
    "q37_ann_ivf",           // 8×10 coarse-quantizer probe, IdentityBroadcast
    "q65_ann_pq_adc",        // per-query distance-table probe vs codebook
    "q84_bm25",              // one-row corpus-stats broadcast
    "q87_vocab_report",      // one-row summary broadcast
    "q89_domain_mixture",    // 20-row rate table cross onto per-source agg
    "q95_heavy_hitters",     // one-row N total broadcast
    "q49_hll_union",         // one-row overall-union cross
    "q61_contamination",     // broadcast benchmark-shingle probe set
    "q45_profile",           // one-row table-totals cross
    "q53_exact_stats",       // one-row power-sums cross
    "q69_exact_quantiles",   // one-row count cross for rank targets
    "q55_fuzzy_match",       // corpus × broadcast(20 probes), non-equi by nature (levenshtein)
    "q68_pagerank_step",     // 1-row n_nodes broadcast cross (teleport term)
    "q100_chi2_terms",       // 1-row class-totals broadcast cross (contingency margins)
    "q101_hybrid_retrieval", // q84's stats cross + 1-row query-vector broadcast
    "q104_bm25_ln",          // q84's one-row corpus-stats broadcast (ln-idf twin)
    "q112_source_similarity") // source-grain pair grid (bounded source set)

  /** Queries allowed to keep an unpartitioned WindowExec that the
    * reachability heuristic below cannot prove tiny. (Windows whose input
    * passes through an aggregate or limit are auto-accepted — e.g. q83's
    * bucket-offset window over the |docs|/256-row totals relation.) */
  private val tinyWindowAllowlist: Set[String] = Set.empty

  test("no unpartitioned window over an unreduced data-scale scan") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec

    // A subtree is "data-scale" if a file scan reaches the window without
    // passing through an aggregation or a limit (both reduce cardinality to
    // group-key / k-row grain). Conservative: joins, exchanges, projects,
    // filters etc. all preserve the taint.
    def unreducedScan(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => false
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec => false
      // A broadcast input is size-bounded by the engine itself (autoBroadcast
      // threshold / broadcast OOM guard) — never data-scale.
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => false
      case _: FileSourceScanExec => true
      case other => TestPlans.children(other).exists(unreducedScan)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val bad = TestPlans.nodes(fn(spark, TestSpark.sf0001)).collect {
        case w: WindowExec if w.partitionSpec.isEmpty && unreducedScan(w.child) => w
      }
      if (bad.nonEmpty && !tinyWindowAllowlist(name)) Some(name) else None
    }
    graft.operators.Dedup.releaseCaches(spark)
    assert(offenders.isEmpty,
      s"data-scale unpartitioned window (single-partition global sort) in: $offenders")
  }

  /** The six queries whose INITIAL plan demoted BroadcastHashJoin →
    * SortMergeJoin under catalog statistics (PLANS.md round-12
    * catalog-stats A/B: planStats prices derived-aggregate join inputs
    * more conservatively than raw size propagation), plus q74_star_join
    * whose fifth dimension join did the same at sf10. AQE reversed every
    * demotion at runtime. This test pins the executed-plan contract in
    * CI: a Spark upgrade or config drift that lands an un-rescued
    * SortMergeJoin on these shapes fails here, not in a cluster profile.
    */
  private val statsFlipFamily = Seq(
    "q03_join_agg", "q41_semi_anti", "q59_nullsafe_join",
    "q70_salted_join", "q74_star_join",
    "q93_conversion_join", "q94_conversion_outer")

  test("stats-flip family: executed plans broadcast with no SortMergeJoin") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val failures = statsFlipFamily.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, TestSpark.sf01)
      // Execute THIS plan's own physical tree so AQE finalizes THIS
      // AdaptiveSparkPlanExec. df.count()/df.foreach() both build a NEW
      // QueryExecution (foreach goes through df.rdd's re-plan) and would
      // leave this plan un-finalized — its a.executedPlan would still be
      // the initial plan.
      df.queryExecution.executedPlan.execute().count()
      val nodes = TestPlans.nodes(df)
      val smj = nodes.exists(_.isInstanceOf[SortMergeJoinExec])
      val bhj = nodes.exists(_.isInstanceOf[BroadcastHashJoinExec])
      if (smj || !bhj) Some(s"$name: smj=$smj bhj=$bhj") else None
    }
    graft.operators.Dedup.releaseCaches(spark)
    assert(failures.isEmpty,
      s"executed-plan join strategy regressed (expected all-broadcast, no SMJ): $failures")
  }

  test("no unplanned cartesian/nested-loop stage anywhere in the full registry") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val nested = TestPlans.nodes(fn(spark, TestSpark.sf0001)).exists {
        case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }
      if (nested && !deliberate(name)) Some(name) else None
    }
    graft.operators.Dedup.releaseCaches(spark)
    assert(offenders.isEmpty,
      s"nested-loop/cartesian stages outside the deliberate list: $offenders")
  }
}
