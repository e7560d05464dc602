package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions
import graft.plans.AsOfJoinStrategy

/** Production registration path: install everything via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) — planner strategy for the
  * as-of operator plus every graft_* SQL function. The runtime
  * alternative (for sessions you didn't create) is
  * `GraftFunctions.register` + lazy strategy injection in
  * `plans.AsOf`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // DSv2 ViewCatalog views in plain spark.sql — Spark 4.1's analyzer
    // doesn't consult the interface itself (see ResolveWireViews)
    e.injectResolutionRule(s => graft.plans.ResolveWireViews(s))
    e.injectOptimizerRule(_ => graft.plans.PruneAsOfJoinColumns)
    e.injectOptimizerRule(_ => graft.plans.PushLimitThroughAsOfJoin)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    e.injectOptimizerRule(_ => graft.plans.SnapshotScanPruning)
    // ForwardV1ScanStatistics is NOT injected here: it must run after
    // the scan push-down that wraps V1 scans, and Spark 4.1 runs the
    // pre-CBO batch before that push-down, so an injected copy never
    // matches. GraftCatalog.loadTable installs it as an experimental
    // optimization, which runs after the push-down.
    // one shared builder list (GraftFunctions.builders) feeds both
    // registration paths, so the SQL surfaces cannot diverge
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
  }
}

object GraftExtensions {

  /** True when `spark` was built with these extensions (by
    * `withExtensions` or `spark.sql.extensions`): their planner
    * strategy is among the session's injected ones, and the rules
    * injected with it are in its analyzer and optimizer already, so
    * the runtime install helpers must not add them a second time.
    */
  def installedOn(spark: SparkSession): Boolean =
    spark.sessionState.planner.extraPlanningStrategies.contains(AsOfJoinStrategy)
}
