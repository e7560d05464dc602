package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

/** Streaming ingestion into a SnapshotTable: every micro-batch is one
  * atomic append commit, giving the continuous version of the
  * reference's Airflow-run → Iceberg-insert loop (each DAG run lands
  * one batch; RUNBOOK.md §5 + §8) with snapshot isolation — readers
  * at version v never see a half-written batch.
  */
object LakeSink {

  /** Highest streaming batch id already committed to `root`, or -1.
    * Batch ids are stamped into manifest headers at commit time, so
    * this survives restarts with no side-channel state.
    *
    * Scanned NEWEST-version-first with an early stop (r21, §1.2):
    * foreachBatch ids rise monotonically with commit order, so the
    * newest stamped version holds the max — the per-micro-batch cost
    * is O(maintenance commits since the last batch), typically one
    * header read, instead of one header read per version of the
    * table's whole history on every micro-batch.
    */
  def lastCommittedBatch(stream: DataFrame, root: String): Long = {
    val s = stream.sparkSession
    (SnapshotTable.currentVersion(s, root) to 1 by -1).iterator
      .flatMap(v => SnapshotTable.version(s, root, v).header.get("streaming_batch"))
      .map(_.toLong)
      .nextOption().getOrElse(-1L)
  }

  /** foreachBatch writer committing each micro-batch to `root`.
    * Empty batches are skipped (no empty snapshots).
    *
    * foreachBatch is at-least-once: after a restart Spark replays the
    * last un-checkpointed batch with the SAME batchId. The batch id is
    * stamped into the commit's manifest header, and replayed ids are
    * skipped — the batchId and the committed files land in one atomic
    * manifest rename, so the dedup decision can never disagree with
    * the committed data (exactly-once table contents).
    *
    * Commits go through [[SnapshotTable.commitAppend]] (staged data +
    * CAS rebase), NOT the fail-loud single-writer [[SnapshotTable
    * .commit]]: a live table is exactly where MAINTENANCE runs next
    * to the stream (compactSmallFiles folding the micro-batch files,
    * compactDeletes, an eq-delete CDC writer), and a fail-loud append
    * would kill the streaming query on the first lost CAS. With both
    * sides rebase-capable the stream and the nightly jobs interleave
    * freely (StreamingMaintenanceSpec).
    */
  def append(stream: DataFrame, root: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // the micro-batch plan is LAZY (for the CDC source it re-reads
      // the changed versions' parquet on every action) — persist the
      // Δ-sized batch so isEmpty + the commit pay the scan once
      batch.persist()
      try {
        if (!batch.isEmpty && batchId > lastCommittedBatch(batch, root)) {
          SnapshotTable.commitAppend(batch.sparkSession, root, batch,
            meta = Map("streaming_batch" -> batchId.toString))
          ()
        }
      } finally { batch.unpersist(); () }
    }

  def start(stream: DataFrame, root: String, checkpoint: String): StreamingQuery =
    append(stream, root).option("checkpointLocation", checkpoint).start()

  /** Table-to-table streaming replication: consume a CDC stream of
    * insert/delete row images (the `graft-snapshot` source's output)
    * and apply each micro-batch to a replica SnapshotTable as ONE
    * merge-on-read commit ([[SnapshotTable.applyChangesMor]]):
    * delete images become a positional-delete file (multiset
    * semantics, exceptAll parity), inserts are appended — the replica
    * pays O(Δ) write per batch instead of the previous
    * rewrite-the-whole-replica overwrite, which at 100 TB is the
    * difference between a replication lag measured in seconds and one
    * measured in full-table rewrites. Same manifest-stamped batch-id
    * dedup as [[append]], so a replayed batch after restart is a
    * no-op and the replica's contents are exactly-once. End-to-end:
    * source table commits → readStream("graft-snapshot") → applyCdc →
    * replica converges to the source at every version.
    */
  def applyCdc(cdcStream: DataFrame, root: String): DataStreamWriter[Row] = {
    import org.apache.spark.sql.functions.col
    cdcStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // the CDC batch plan re-reads the changed versions' data files
      // on EVERY action, and the apply takes several (isEmpty, the
      // insert append, the delete images, the planning aggregates) —
      // persist the Δ-sized batch so the change scan runs once per
      // micro-batch, not 4×
      batch.persist()
      try {
        if (!batch.isEmpty && batchId > lastCommittedBatch(batch, root)) {
          val s = batch.sparkSession
          // Δ-derived shuffle width for THIS batch's apply (r21, §2.2):
          // the apply's joins/windows/writes are plan-time sized from
          // the session conf, AQE does not cover foreachBatch bodies,
          // and no fixed count fits both a trickle batch (a handful of
          // rows — one partition suffices) and a catch-up wave
          // (hundreds of MB — cluster width). The batch is persisted,
          // so its stats are REAL bytes: one partition per
          // spark.graft.cdc.applyPartitionBytes (default 8 MB —
          // latency-oriented micro-batch sizing, overridable), capped
          // at cluster width. Restored after the apply.
          val key = "spark.sql.shuffle.partitions"
          val prev = s.conf.get(key)
          val target = s.conf.get("spark.graft.cdc.applyPartitionBytes",
            (8L * 1024 * 1024).toString).toLong.max(1L)
          val bytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
          val width = ((bytes + target - 1) / target)
            .min(BigInt(s.sparkContext.defaultParallelism)).max(BigInt(1)).toInt
          s.conf.set(key, width.toString)
          try {
            val ins = batch.filter(col("change_type") === "insert").drop("change_type")
            val del = batch.filter(col("change_type") === "delete").drop("change_type")
            val meta = Map("streaming_batch" -> batchId.toString)
            if (SnapshotTable.currentVersion(s, root) == 0)
              SnapshotTable.commit(s, root, ins, append = true, meta = meta)
            else
              SnapshotTable.applyChangesMor(s, root, ins, del, meta)
            ()
          } finally s.conf.set(key, prev)
        }
      } finally { batch.unpersist(); () }
    }
  }

  def startCdc(cdcStream: DataFrame, root: String, checkpoint: String): StreamingQuery =
    applyCdc(cdcStream, root).option("checkpointLocation", checkpoint).start()
}
