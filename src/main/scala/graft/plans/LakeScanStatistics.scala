package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}

/** [[V1ScanWrapper]] (what V2ScanRelationPushDown wraps every V1Scan
  * in) implements ONLY `Scan` — it drops the wrapped scan's
  * [[SupportsReportStatistics]] face, so
  * `DataSourceV2ScanRelation.computeStats` falls back to
  * `defaultSizeInBytes` (Long.MaxValue) and a lake table served
  * through the DSv2 catalog can never auto-broadcast, however small
  * its manifest says it is. This wrapper re-exposes the face; the
  * physical strategy still sees a V1ScanWrapper (it pattern-matches
  * the class), so planning is otherwise untouched.
  */
private[graft] class StatsForwardingV1ScanWrapper(w: V1ScanWrapper)
  extends V1ScanWrapper(w.v1Scan, w.handledFilters, w.pushedDownOperators)
  with SupportsReportStatistics {
  override def estimateStatistics(): Statistics =
    w.v1Scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
  // break case-class equality with the plain wrapper: TreeNode.transform
  // keeps the ORIGINAL node when the rewritten one compares equal
  // (fastEquals), and the inherited equals ignores the subclass — the
  // rule's rewrap would silently evaporate
  override def canEqual(that: Any): Boolean =
    that.isInstanceOf[StatsForwardingV1ScanWrapper]
  override def equals(other: Any): Boolean = other match {
    case o: StatsForwardingV1ScanWrapper => super.equals(o)
    case _ => false
  }
  override def hashCode(): Int = super.hashCode() * 31 + 1
}

/** Late optimizer rule (after V2ScanRelationPushDown, before any
  * stats consumer — JoinSelection reads logical stats at physical
  * planning): rewrap stats-capable V1 scans so their manifest-derived
  * statistics reach Catalyst. Registered lazily by
  * [[graft.sources.GraftCatalog]] as an experimental optimization on
  * every session (the extensions' slots all run before the push-down).
  */
object ForwardV1ScanStatistics extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case r: DataSourceV2ScanRelation => r.scan match {
      case w: V1ScanWrapper if !w.isInstanceOf[StatsForwardingV1ScanWrapper] &&
          w.v1Scan.isInstanceOf[SupportsReportStatistics] =>
        r.copy(scan = new StatsForwardingV1ScanWrapper(w))
      case _ => r
    }
  }
}
