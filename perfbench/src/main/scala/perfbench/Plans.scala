package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.graph.PropertyGraph

/** Deterministic counters read from a query's plans after it ran. */
object Plans {

  /** The executed physical plan, with adaptive stages unwrapped. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case r: ReusedExchangeExec    => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Rows produced by the leaf scans of `df`'s last execution. */
  def scannedRows(df: DataFrame): Long =
    nodes(df.queryExecution.executedPlan).collect {
      case leaf: LeafExecNode => leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum

  /** Interpreted (CodegenFallback) expressions in `df`'s executed plan. */
  def fallbackExprs(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan).map { n =>
      n.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
    }.sum

  /** Logical-plan size of a snapshot: nodes over all its tables. */
  def logicalNodes(g: PropertyGraph): Int =
    (g.nodeTables.values ++ g.edgeTables.values)
      .map(_.queryExecution.logical.collect { case n => n }.size).sum
}
