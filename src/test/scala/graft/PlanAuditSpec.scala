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
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
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
      case a: AdaptiveSparkPlanExec => unreducedScan(a.executedPlan)
      case other => other.children.exists(unreducedScan)
    }
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = unwrap(fn(spark, TestSpark.sf0001).queryExecution.executedPlan)
      val bad = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && unreducedScan(w.child) => w
      }
      if (bad.nonEmpty && !tinyWindowAllowlist(name)) Some(name) else None
    }
    graft.operators.Dedup.releaseCaches(spark)
    assert(offenders.isEmpty,
      s"data-scale unpartitioned window (single-partition global sort) in: $offenders")
  }

  /** The six queries whose INITIAL plan demotes BroadcastHashJoin →
    * SortMergeJoin under catalog stats (`spark.sql.cbo.planStats.enabled`
    * prices derived-aggregate join inputs more conservatively than raw
    * size propagation — PLANS.md round-12 catalog-stats A/B), plus
    * q74_star_join whose fifth dimension join does the same at sf10. The
    * registry-wide A/B showed AQE reverses every demotion at RUNTIME, so
    * the executed plan broadcasts in both postures. This test pins that
    * executed-plan contract in CI: a Spark upgrade or config drift that
    * lands an un-rescued SortMergeJoin on these shapes fails here, not in
    * a cluster profile. (r12 VERDICT item 4.)
    */
  private val statsFlipFamily = Seq(
    "q03_join_agg", "q41_semi_anti", "q59_nullsafe_join",
    "q70_salted_join", "q74_star_join",
    "q93_conversion_join", "q94_conversion_outer")

  test("stats-flip family: executed plans broadcast in BOTH catalog-stats postures") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // (mode override, human label). None = default path-scan posture;
    // Some("full") = catalog tables + column stats + planStats pricing —
    // the posture under which the initial-plan demotions were observed.
    val postures = Seq(None -> "path-scan", Some("full") -> "catalog-stats")
    val failures = postures.flatMap { case (mode, label) =>
      graft.sources.Tables.statsModeOverride = mode
      if (mode.isDefined) {
        spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
        // ADVICE r13: registration is once-per-session, so this posture
        // used to be FULL-stats only because this test happened to
        // register the sf0.1 tables first — any earlier registrar under a
        // weaker posture would silently downgrade what's being audited.
        // Drop every graft_* catalog table so re-registration below
        // happens under THIS posture; the stats assertions further down
        // then verify (not assume) that the catalog actually carries them.
        spark.catalog.listTables().collect()
          .filter(_.name.startsWith("graft_"))
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      }
      try {
        statsFlipFamily.flatMap { name =>
          val df = SparkEntry.queries(name)(spark, TestSpark.sf01)
          if (mode.isDefined) {
            // Verify the audited posture: every catalog-table leaf of the
            // optimized plan must price with a rowCount and column stats.
            import org.apache.spark.sql.execution.datasources.LogicalRelation
            val catLeaves = df.queryExecution.optimizedPlan.collectLeaves()
              .collect { case l: LogicalRelation if l.catalogTable.isDefined => l }
            assert(catLeaves.nonEmpty,
              s"$name[$label]: no catalog-table leaves — posture not in effect")
            val unpriced = catLeaves.filter(l =>
              l.stats.rowCount.isEmpty || l.stats.attributeStats.isEmpty)
            assert(unpriced.isEmpty,
              s"$name[$label]: catalog leaves without rowCount/column stats: " +
                unpriced.map(_.catalogTable.get.identifier.table))
          }
          // Execute THIS plan's own physical tree so AQE finalizes THIS
          // AdaptiveSparkPlanExec. df.count()/df.foreach() both build a NEW
          // QueryExecution (foreach goes through df.rdd's re-plan) and would
          // leave this plan un-finalized — its a.executedPlan would still be
          // the initial (possibly SMJ-demoted) plan.
          df.queryExecution.executedPlan.execute().count()
          val s = df.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan.toString
            case p => p.toString
          }
          val smj = s.contains("SortMergeJoin")
          val bhj = s.contains("BroadcastHashJoin")
          if (smj || !bhj)
            Some(s"$name[$label]: smj=$smj bhj=$bhj") else None
        }
      } finally {
        graft.sources.Tables.statsModeOverride = None
        if (mode.isDefined) spark.conf.unset("spark.sql.cbo.planStats.enabled")
      }
    }
    graft.operators.Dedup.releaseCaches(spark)
    assert(failures.isEmpty,
      s"executed-plan join strategy regressed (expected all-broadcast, no SMJ): $failures")
  }

  test("no unplanned cartesian/nested-loop stage anywhere in the full registry") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, TestSpark.sf0001).queryExecution.executedPlan.toString
      val nested = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (nested && !deliberate(name)) Some(name) else None
    }
    graft.operators.Dedup.releaseCaches(spark)
    assert(offenders.isEmpty,
      s"nested-loop/cartesian stages outside the deliberate list: $offenders")
  }
}
