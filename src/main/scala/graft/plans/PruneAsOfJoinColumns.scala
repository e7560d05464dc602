package graft.plans

import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Column pruning through the custom AsOfJoin node.
  *
  * Catalyst's built-in ColumnPruning only understands its own
  * operators, so without this rule an as-of join carries EVERY column
  * of both children through the exchange and sort — at 100 TB that is
  * the difference between shuffling two key/time columns and shuffling
  * whole rows. The rule narrows each child to the attributes the
  * parent Project references plus the join's own keys/time columns,
  * which then cascades into parquet scan pruning (ReadSchema) via the
  * normal rules.
  *
  * Injected by [[graft.GraftExtensions]] as an optimizer rule; also
  * effective for plans built through [[AsOf.join]].
  */
/** Limit pushdown through AsOfJoin: the operator emits exactly one
  * row per left row, so a LocalLimit above it can also bound the LEFT
  * child — n rows in, n rows out — instead of merging both full
  * inputs first. A deterministic Project between the limit and the
  * join (`AsOf.join(…).select(…).limit(n)`) is row-for-row too, so the
  * limit reaches through it. (The limit above stays: pushdown is an
  * additional bound, same contract as Spark's own LimitPushDown
  * through joins.)
  */
object PushLimitThroughAsOfJoin extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LocalLimit

  // already bounded: a LocalLimit, possibly under the Projects column
  // pruning puts on the join's left child
  private def limited(p: LogicalPlan): Boolean = p match {
    case _: LocalLimit => true
    case Project(_, c) => limited(c)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case ll @ LocalLimit(expr, a: AsOfJoin) if !limited(a.left) =>
      ll.copy(child = a.copy(left = LocalLimit(expr, a.left)))
    case ll @ LocalLimit(expr, p @ Project(list, a: AsOfJoin))
        if list.forall(_.deterministic) && !limited(a.left) =>
      ll.copy(child = p.copy(child = a.copy(left = LocalLimit(expr, a.left))))
  }
}

/** Filter pushdown through AsOfJoin: the operator is left-preserving
  * (one output row per left row, left columns pass through
  * unchanged), so a Filter above it that references ONLY left-side
  * attributes commutes with the join and can evaluate below — where
  * it cascades into the left scan's PushedFilters instead of running
  * after the merge. Predicates touching right-side (possibly NULL on
  * no-match) columns stay above. Conjuncts split individually, same
  * contract as Spark's PushPredicateThroughJoin for left outer joins.
  */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{And, Expression}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsOfJoin) =>
      val (leftOnly, rest) = splitConjuncts(cond).partition { c =>
        c.deterministic && c.references.subsetOf(a.left.outputSet)
      }
      if (leftOnly.isEmpty) f
      else {
        val pushed = a.copy(left = Filter(leftOnly.reduce(And), a.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

object PruneAsOfJoinColumns extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, a: AsOfJoin) =>
      val required = AttributeSet(
        p.references ++
          a.leftKeys.flatMap(_.references) ++ a.rightKeys.flatMap(_.references) ++
          a.leftTime.references ++ a.rightTime.references)
      val pruneL = (a.left.outputSet -- required).nonEmpty
      val pruneR = (a.right.outputSet -- required).nonEmpty
      if (!pruneL && !pruneR) p
      else {
        val newLeft =
          if (pruneL) Project(a.left.output.filter(required.contains), a.left) else a.left
        val newRight =
          if (pruneR) Project(a.right.output.filter(required.contains), a.right) else a.right
        p.copy(child = a.copy(left = newLeft, right = newRight))
      }
  }
}
