package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

import graft.lake.SnapshotTable

/** Point-lookup FILE pruning for snapshot-table scans, as a Catalyst
  * optimizer rule (VERDICT r6 item 8): any filter that lands directly
  * on a snapshot scan — including one pushed down from a JDBC client's
  * `WHERE key = ?` through the Thrift endpoint — is checked against
  * the table's manifest metadata (partition transform values, per-file
  * min/max stats, per-file bloom filters), and the scan's file index
  * is REPLACED with the surviving subset before planning. A point
  * query over a range-clustered, bloom-annotated table then opens one
  * data file instead of the table, with no API cooperation from the
  * query author — the rule is what routes arbitrary SQL through the
  * same skipping `SnapshotTable.readWhere` applies explicitly.
  *
  * Correctness: pruning only ever REMOVES files the metadata proves
  * cannot satisfy the condition; the filter itself stays in the plan,
  * so residual evaluation is untouched. The rewrite is monotone (the
  * kept set only shrinks and is intersected with the current index),
  * so the rule is idempotent under the optimizer's fixed-point runs.
  * Scans are recognized by the `graft.snapshot.*` options
  * SnapshotTable.read stamps on the parquet relation; condition
  * column names are physical there, which is exactly what the
  * manifest pruning core expects.
  */
object SnapshotScanPruning extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, lr: LogicalRelation)
        if lr.relation.isInstanceOf[HadoopFsRelation] &&
          lr.relation.asInstanceOf[HadoopFsRelation].options
            .contains(SnapshotTable.ScanRootKey) =>
      val hfs = lr.relation.asInstanceOf[HadoopFsRelation]
      val spark = hfs.sparkSession
      val root = hfs.options(SnapshotTable.ScanRootKey)
      val version = hfs.options(SnapshotTable.ScanVersionKey).toInt
      def norm(p: String) = SnapshotTable.canon(spark, p)
      val current = hfs.location.inputFiles.toSeq
      val keep = SnapshotTable.pruneEntries(SnapshotTable.version(spark, root, version), cond)
        .map(norm).toSet
      val target = current.filter(p => keep.contains(norm(p)))
      if (target.size < current.size) {
        val idx = new InMemoryFileIndex(spark, target.map(new Path(_)),
          Map.empty, Some(hfs.dataSchema))
        val pruned = hfs.copy(location = idx)(spark)
        Filter(cond, lr.copy(relation = pruned))
      } else f
  }
}
