package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Exact row counts read from the SQL metrics of an executed plan. Call
  * after the DataFrame has been collected, so adaptive plans are final.
  */
object PlanMetrics {
  /** Children, looking through adaptive wrappers, query stages and reuse. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Output rows of `p`, looking through nodes that keep no row count
    * (projections, sorts, exchanges). */
  def rowsInto(p: SparkPlan): Long =
    rows(p).getOrElse(kids(p).headOption.map(rowsInto).getOrElse(0L))

  private def mentions(e: Expression, fn: String): Boolean =
    e.exists(x => x.prettyName.toLowerCase.contains(fn) || x.getClass.getSimpleName.toLowerCase.contains(fn))

  /** Rows entering the partial aggregate that calls `fn`. */
  def rowsIntoPartialAgg(df: DataFrame, fn: String): Long =
    nodes(df.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(ae =>
          ae.mode == Partial && mentions(ae.aggregateFunction, fn)) =>
        rowsInto(a.child)
    }.sum

  /** (rows tested, rows passing) for the filter or join condition calling `fn`.
    * A join condition's tested rows are those of its (id_a, id_b) pair side. */
  def predicateRows(df: DataFrame, fn: String): (Long, Long) = {
    val hits = nodes(df.queryExecution.executedPlan).collect {
      case f: FilterExec if mentions(f.condition, fn) => (rowsInto(f.child), rows(f).getOrElse(0L))
      case j: BaseJoinExec if j.condition.exists(mentions(_, fn)) =>
        // the side carrying (id_a, id_b) pairs; each pair meets one row of the other side
        val pairs = j.children.find(c => Set("id_a", "id_b").subsetOf(c.output.map(_.name).toSet))
        (pairs.map(rowsInto).getOrElse(0L), rows(j).getOrElse(0L))
    }
    (hits.map(_._1).sum, hits.map(_._2).sum)
  }
}
