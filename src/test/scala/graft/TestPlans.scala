package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanLike, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The one physical-plan walk the specs share. Under AQE the plan a query
  * ran hangs off fields, not `children`: `AdaptiveSparkPlanExec` and every
  * materialized `QueryStageExec` are LEAVES, and a subquery's plan lives in
  * an expression. A plain `foreach`/`collect` sees none of it. */
object TestPlans {

  /** AQE's final plan once the query ran (its current plan before), else
    * the plan itself. */
  def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** Children as the plan runs them: a query stage's plan and an adaptive
    * plan's current plan count as children. */
  def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case q: QueryStageExec => Seq(q.plan)
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case other => other.children
  }

  /** Every node `p` runs, through query stages, nested adaptive plans and
    * subqueries (each once). A reused exchange is one leaf: the subtree it
    * reuses is counted where it first ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (children(p) ++ p.subqueries).flatMap(nodes)

  def nodes(df: DataFrame): Seq[SparkPlan] = nodes(finalPlan(df))

  /** Does a whole-stage-codegen stage in `df`'s plan hold a Project with an
    * expression matching `p`? Only then does the generated code run. */
  def fusedProject(df: DataFrame)(p: Expression => Boolean): Boolean =
    nodes(df).exists {
      case w: WholeStageCodegenExec => w.child.collect {
        case pr: ProjectExec if pr.projectList.exists(_.exists(p)) => pr
      }.nonEmpty
      case _ => false
    }

  /** Does a file scan in `df`'s plan carry a partition filter on `column`?
    * A filter applied after the scan prunes nothing. */
  def prunesPartitionsOn(df: DataFrame, column: String): Boolean =
    nodes(df).exists {
      case s: FileSourceScanLike =>
        s.partitionFilters.exists(_.references.exists(_.name == column))
      case _ => false
    }
}
