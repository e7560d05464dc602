package graft

import graft.lake.SnapshotTable

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  test("append commits accumulate; time travel reads exact versions") {
    val root = "/tmp/graft_test/snap_basic"
    SnapshotTable.drop(spark, root)
    val v1 = SnapshotTable.commit(spark, root, Seq(1, 2, 3).toDF("x"))
    val v2 = SnapshotTable.commit(spark, root, Seq(4, 5).toDF("x"))
    assert(v1 === 1 && v2 === 2)
    assert(SnapshotTable.read(spark, root, 1).count() === 3)
    assert(SnapshotTable.read(spark, root, 2).count() === 5)
    assert(SnapshotTable.read(spark, root).count() === 5) // latest
  }

  test("overwrite commit replaces visibility but keeps old versions readable") {
    val root = "/tmp/graft_test/snap_overwrite"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1, 2, 3).toDF("x"))
    SnapshotTable.commit(spark, root, Seq(9).toDF("x"), append = false)
    assert(SnapshotTable.read(spark, root, 2).collect().map(_.getInt(0)).toSet === Set(9))
    assert(SnapshotTable.read(spark, root, 1).count() === 3) // time travel intact
  }

  test("streaming micro-batches commit as snapshot versions (LakeSink)") {
    implicit val sqlCtx = spark.sqlContext
    val root = "/tmp/graft_test/snap_stream"
    val ckpt = "/tmp/graft_test/snap_stream_ckpt"
    graft.lake.SnapshotTable.drop(spark, root)
    graft.lake.SnapshotTable.drop(spark, ckpt)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = graft.lake.LakeSink.start(input.toDF().toDF("x"), root, ckpt)
    input.addData(1L, 2L, 3L)
    q.processAllAvailable()
    input.addData(4L, 5L)
    q.processAllAvailable()
    q.stop()
    assert(graft.lake.SnapshotTable.currentVersion(spark, root) === 2)
    assert(graft.lake.SnapshotTable.read(spark, root, 1).count() === 3)
    assert(graft.lake.SnapshotTable.read(spark, root, 2).count() === 5)
  }

  test("commit meta rides the manifest header; data files exclude it") {
    val root = "/tmp/graft_test/snap_meta"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1).toDF("x"),
      meta = Map("streaming_batch" -> "7", "source" -> "spec"))
    // committed_at is auto-stamped on every manifest (timestamp
    // travel); fieldids is persisted by every data commit (r15) so id
    // lookups never re-infer the schema
    assert(SnapshotTable.version(spark, root, 1).header - "committed_at" ===
      Map("streaming_batch" -> "7", "source" -> "spec", "fieldids" -> "x=1"))
    assert(SnapshotTable.version(spark, root, 1).committedAt > 0L)
    assert(SnapshotTable.dataFiles(spark, root, 1).forall(_.endsWith(".parquet")))
    assert(SnapshotTable.read(spark, root).count() === 1)
  }

  test("optimistic commit fails when another writer won the version") {
    val root = "/tmp/graft_test/snap_race"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1).toDF("x"))
    // both writers read the table at v1 and plan to create v2;
    // writer A lands first
    SnapshotTable.commit(spark, root, Seq(2).toDF("x"), expectedVersion = Some(2))
    val before = SnapshotTable.dataFiles(spark, root, 2)
    // writer B, still expecting to create v2, must fail loudly
    val ex = intercept[IllegalStateException] {
      SnapshotTable.commit(spark, root, Seq(99).toDF("x"), expectedVersion = Some(2))
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // the winner's manifest is untouched and the table still reads
    assert(SnapshotTable.dataFiles(spark, root, 2) === before)
    assert(SnapshotTable.read(spark, root).count() === 2)
  }

  test("replayed streaming batch ids commit once (idempotent LakeSink)") {
    implicit val sqlCtx = spark.sqlContext
    val root = "/tmp/graft_test/snap_replay"
    graft.lake.SnapshotTable.drop(spark, root)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    // first run: two batches land as v1/v2 with batch ids 0/1
    val ckpt1 = "/tmp/graft_test/snap_replay_ckpt1"
    graft.lake.SnapshotTable.drop(spark, ckpt1)
    val q1 = graft.lake.LakeSink.start(input.toDF().toDF("x"), root, ckpt1)
    input.addData(1L, 2L); q1.processAllAvailable()
    input.addData(3L); q1.processAllAvailable()
    q1.stop()
    assert(graft.lake.SnapshotTable.currentVersion(spark, root) === 2)
    // "restart" from a FRESH checkpoint over the same source data —
    // the sink sees batch ids 0.. again (a strictly harsher replay
    // than a real restart, which replays only the last batch)
    val input2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val ckpt2 = "/tmp/graft_test/snap_replay_ckpt2"
    graft.lake.SnapshotTable.drop(spark, ckpt2)
    val q2 = graft.lake.LakeSink.start(input2.toDF().toDF("x"), root, ckpt2)
    input2.addData(1L, 2L); q2.processAllAvailable()   // batchId 0 ≤ committed 1 → skipped
    input2.addData(3L); q2.processAllAvailable()       // batchId 1 ≤ committed 1 → skipped
    input2.addData(4L); q2.processAllAvailable()       // batchId 2 → new commit
    q2.stop()
    assert(graft.lake.SnapshotTable.currentVersion(spark, root) === 3)
    assert(graft.lake.SnapshotTable.read(spark, root).count() === 4) // 1,2,3,4 — no dupes
  }

  test("deleteWhere rewrites only affected files; time travel keeps history") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/snap_delete"
    SnapshotTable.drop(spark, root)
    // two commits → two disjoint file sets; the predicate only hits v1's
    SnapshotTable.commit(spark, root, Seq(1, 2, 3).toDF("x").repartition(1))
    SnapshotTable.commit(spark, root, Seq(10, 11).toDF("x").repartition(1))
    val filesBefore = SnapshotTable.dataFiles(spark, root, 2)
    val v = SnapshotTable.deleteWhere(spark, root, col("x") === 2)
    assert(v === 3)
    assert(SnapshotTable.read(spark, root).collect().map(_.getInt(0)).toSet === Set(1, 3, 10, 11))
    // only the file containing x=2 was rewritten; the other survives as-is
    val filesAfter = SnapshotTable.dataFiles(spark, root, 3)
    assert(filesBefore.toSet.intersect(filesAfter.toSet).nonEmpty,
      "untouched files must be re-listed, not rewritten")
    assert(SnapshotTable.version(spark, root, 3).header.get("rewrote") === Some("1"))
    // time travel: pre-delete versions are intact
    assert(SnapshotTable.read(spark, root, 2).collect().map(_.getInt(0)).toSet === Set(1, 2, 3, 10, 11))
    // no-match delete is a no-op returning the current version
    assert(SnapshotTable.deleteWhere(spark, root, col("x") === 999) === 3)
  }

  test("updateWhere rewrites only affected files and keeps NULL-predicate rows unchanged") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = "/tmp/graft_test/snap_update"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1, 10), (2, 20)).toDF("k", "v").repartition(1))
    SnapshotTable.commit(spark, root, Seq((3, 30), (4, 40)).toDF("k", "v").repartition(1))
    val filesBefore = SnapshotTable.dataFiles(spark, root, 2)
    val v = SnapshotTable.updateWhere(spark, root, col("k") === 2, Map("v" -> lit(99)))
    assert(v === 3)
    assert(SnapshotTable.read(spark, root).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet === Set((1, 10), (2, 99), (3, 30), (4, 40)))
    // only the file containing k=2 was rewritten
    val filesAfter = SnapshotTable.dataFiles(spark, root, 3)
    assert(filesBefore.toSet.intersect(filesAfter.toSet).nonEmpty)
    assert(SnapshotTable.version(spark, root, 3).header.get("op") === Some("update"))
    // time travel: pre-update content intact
    assert(SnapshotTable.read(spark, root, 2).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet === Set((1, 10), (2, 20), (3, 30), (4, 40)))
    // no-match update is a no-op
    assert(SnapshotTable.updateWhere(spark, root, col("k") === 999, Map("v" -> lit(0))) === 3)
    // NULL predicate rows keep their values; SET casts to the existing type
    val root2 = "/tmp/graft_test/snap_update_null"
    SnapshotTable.drop(spark, root2)
    SnapshotTable.commit(spark, root2, Seq(Some(1), None, Some(3)).toDF("x"))
    SnapshotTable.updateWhere(spark, root2, col("x") > 2, Map("x" -> lit(0L)))
    assert(SnapshotTable.read(spark, root2).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getInt(0))).toSet === Set(Some(1), None, Some(0)))
  }

  test("per-file column stats skip files outside the predicate's value range") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/snap_stats"
    SnapshotTable.drop(spark, root)
    // range-partitioned write → disjoint per-file value ranges
    val df = spark.range(1000).toDF("v")
      .repartitionByRange(4, col("v"))
    SnapshotTable.commit(spark, root, df, statsCols = Seq("v"))
    assert(SnapshotTable.dataFiles(spark, root, 1).size === 4)
    val narrow = SnapshotTable.readWhere(spark, root, col("v") >= 990)
    assert(narrow.collect().map(_.getLong(0)).sorted.toSeq === (990L to 999L))
    assert(narrow.inputFiles.length === 1,
      s"expected 1 file scanned, got ${narrow.inputFiles.length}")
    // equality predicate
    val eq = SnapshotTable.readWhere(spark, root, col("v") === 5)
    assert(eq.count() === 1 && eq.inputFiles.length === 1)
    // no matching file at all → empty result, zero scan
    assert(SnapshotTable.readWhere(spark, root, col("v") > 5000).count() === 0)
    // unprunable predicate shape still answers correctly (full scan)
    assert(SnapshotTable.readWhere(spark, root, col("v") % 2 === 0).count() === 500)
    // appends keep earlier stats annotations alive
    SnapshotTable.commit(spark, root,
      spark.range(2000, 2100).toDF("v").repartition(1), statsCols = Seq("v"))
    val afterAppend = SnapshotTable.readWhere(spark, root, col("v") >= 990 && col("v") < 1000)
    assert(afterAppend.count() === 10)
    assert(afterAppend.inputFiles.length === 1,
      "stats written before the append must still prune")
  }

  test("partition-spec evolution: unpartitioned files coexist with day-partitioned ones") {
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.{col, lit}
    val root = "/tmp/graft_test/snap_part_evolve"
    SnapshotTable.drop(spark, root)
    def ev(day: Int, id: Int) =
      (Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), id)
    // v1: before the table adopted the day(ts) spec — files carry no
    // partition annotations
    SnapshotTable.commit(spark, root,
      Seq(ev(1, 1), ev(2, 2)).toDF("ts", "id").repartition(1))
    // v2: spec evolves; new files carry hidden day(ts) partition values
    SnapshotTable.commitPartitionedByDay(spark, root,
      Seq(ev(10, 10), ev(20, 20)).toDF("ts", "id"), "ts")
    val res = SnapshotTable.readWhere(spark, root,
      col("ts") >= lit("2024-01-15").cast("timestamp"))
    assert(res.select("id").collect().map(_.getInt(0)).toSet === Set(20))
    // pre-spec files can't prune (no annotations → always scanned,
    // conservative); post-spec files DO prune: the jan-10 file is skipped
    val scanned = res.inputFiles.toSet
    assert(!scanned.exists(_.contains("2024-01-10")),
      s"day-partitioned file outside the bound must be pruned: $scanned")
    assert(scanned.size === 2, // v1's single file + the jan-20 file
      s"expected v1 file + one partitioned file, got $scanned")
  }

  test("z-order + per-file stats: 2-D box predicate skips through the manifest") {
    import org.apache.spark.sql.functions.col
    import graft.lake.ZorderWriter
    val root = "/tmp/graft_test/snap_zstats"
    SnapshotTable.drop(spark, root)
    // 32×32 grid; z-clustered into 8 files → tight per-file boxes
    val grid = spark.range(1024).selectExpr("id % 32 AS x", "id DIV 32 AS y")
    SnapshotTable.commit(spark, root,
      ZorderWriter.clustered(grid, Seq("x", "y"), 8), statsCols = Seq("x", "y"))
    assert(SnapshotTable.dataFiles(spark, root, 1).size === 8)
    val box = SnapshotTable.readWhere(spark, root,
      col("x") >= 4 && col("x") <= 7 && col("y") >= 4 && col("y") <= 7)
    assert(box.count() === 16)
    assert(box.inputFiles.length < 8,
      s"2-D box should skip z-clustered files, scanned ${box.inputFiles.length}")
    // a 1-D slice also prunes (z-order keeps both dims selective)
    val slice = SnapshotTable.readWhere(spark, root, col("y") === 0)
    assert(slice.count() === 32)
    assert(slice.inputFiles.length < 8)
  }

  test("bloom filters skip files on equality where min/max cannot") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/snap_bloom"
    SnapshotTable.drop(spark, root)
    // ids striped across 4 files: every file's [min,max] spans the
    // whole domain, so stats skipping is useless — bloom is the only
    // thing that can prune a point lookup
    val df = spark.range(1000).toDF("id")
      .repartition(4, col("id"))
    SnapshotTable.commit(spark, root, df, bloomCols = Seq("id"))
    assert(SnapshotTable.dataFiles(spark, root, 1).size === 4)
    val hit = SnapshotTable.readWhere(spark, root, col("id") === 123L)
    assert(hit.collect().map(_.getLong(0)).toSeq === Seq(123L))
    assert(hit.inputFiles.length < 4,
      s"bloom should prune some of the 4 striped files, scanned ${hit.inputFiles.length}")
    // IN-list: union of candidate files, still pruned
    val in = SnapshotTable.readWhere(spark, root, col("id").isin(5L, 6L))
    assert(in.collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 6L))
    // absent key: typically zero files (allow bloom false positives)
    val miss = SnapshotTable.readWhere(spark, root, col("id") === 999999L)
    assert(miss.count() === 0)
    // string bloom
    val root2 = "/tmp/graft_test/snap_bloom_str"
    SnapshotTable.drop(spark, root2)
    SnapshotTable.commit(spark, root2,
      spark.range(500).selectExpr("concat('u', id) AS name").repartition(4, col("name")),
      bloomCols = Seq("name"))
    val sh = SnapshotTable.readWhere(spark, root2, col("name") === "u42")
    assert(sh.collect().map(_.getString(0)).toSeq === Seq("u42"))
    assert(sh.inputFiles.length < 4)
  }

  test("changes() diffs versions reading only manifest-differing files") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/snap_changes"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1, 2).toDF("x").repartition(1))   // v1
    SnapshotTable.commit(spark, root, Seq(10, 11).toDF("x").repartition(1)) // v2 append
    SnapshotTable.deleteWhere(spark, root, col("x") === 1)                  // v3 rewrite of v1's file
    val diff = SnapshotTable.changes(spark, root, 1, 3)
    val got = diff.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // net of the rewrite: x=2 survives in the rewritten file and cancels out
    assert(got === Set((10, "insert"), (11, "insert"), (1, "delete")))
    // the untouched v2 file IS part of the diff (it was added); but an
    // unchanged re-listed file must never be scanned: diff v2→v3 only
    // touches the rewritten file pair, not v2's append
    val d23 = SnapshotTable.changes(spark, root, 2, 3)
    assert(d23.collect().map(r => (r.getInt(0), r.getString(1))).toSet === Set((1, "delete")))
    val v2Only = SnapshotTable.dataFiles(spark, root, 2).toSet
      .intersect(SnapshotTable.dataFiles(spark, root, 3).toSet)
    val scanned = d23.inputFiles.map(f => new java.net.URI(f).getPath).toSet
    assert(v2Only.map(f => new java.net.URI(f).getPath).intersect(scanned).isEmpty,
      "files re-listed unchanged across versions must not be read")
    // identical versions → empty diff
    assert(SnapshotTable.changes(spark, root, 3, 3).count() === 0)
    // incremental consumption loop: checkpoint advances with commits
    val (d1, cp1) = SnapshotTable.changesSince(spark, root, 2)
    assert(cp1 === 3 && d1.count() === 1)
    val (d2, cp2) = SnapshotTable.changesSince(spark, root, cp1)
    assert(cp2 === 3 && d2.count() === 0)
    SnapshotTable.commit(spark, root, Seq(77).toDF("x"))
    val (d3, cp3) = SnapshotTable.changesSince(spark, root, cp2)
    assert(cp3 === 4)
    assert(d3.collect().map(r => (r.getInt(0), r.getString(1))).toSet === Set((77, "insert")))
  }

  test("CDC replica sync: applying changesSince converges the replica at every step") {
    import org.apache.spark.sql.functions.col
    val src = "/tmp/graft_test/snap_cdc_src"
    val dst = "/tmp/graft_test/snap_cdc_dst"
    SnapshotTable.drop(spark, src); SnapshotTable.drop(spark, dst)
    SnapshotTable.commit(spark, src, Seq(1, 2, 3).toDF("x"))
    var checkpoint = 0
    def syncAndCheck(): Unit = {
      val (diff, cp) = SnapshotTable.changesSince(spark, src, checkpoint)
      val ins = diff.filter(col("change_type") === "insert").drop("change_type")
      val del = diff.filter(col("change_type") === "delete").drop("change_type")
      val cur =
        if (SnapshotTable.currentVersion(spark, dst) == 0)
          ins.limit(0)
        else SnapshotTable.read(spark, dst)
      SnapshotTable.commit(spark, dst,
        cur.exceptAll(del).unionByName(ins), append = false)
      checkpoint = cp
      val want = SnapshotTable.read(spark, src).collect().map(_.getInt(0)).sorted.toSeq
      val got = SnapshotTable.read(spark, dst).collect().map(_.getInt(0)).sorted.toSeq
      assert(got === want, s"replica diverged: $got vs $want")
    }
    syncAndCheck()                                                        // initial load
    SnapshotTable.commit(spark, src, Seq(4, 5).toDF("x"))                 // append
    syncAndCheck()
    SnapshotTable.deleteWhere(spark, src, col("x") === 2)                 // delete
    SnapshotTable.updateWhere(spark, src, col("x") === 4,
      Map("x" -> org.apache.spark.sql.functions.lit(40)))                 // update
    syncAndCheck()
    syncAndCheck()                                                        // idempotent no-op
  }

  test("deleteWhere keeps rows where the predicate is NULL (SQL DELETE semantics)") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/snap_delete_null"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      Seq(Some(1), None, Some(3)).toDF("x"))
    SnapshotTable.deleteWhere(spark, root, col("x") > 2)
    assert(SnapshotTable.read(spark, root).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getInt(0))).toSet === Set(Some(1), None))
  }

  test("expire keeps last n versions, deletes orphaned files, leaves live bytes alone") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/snap_expire"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1, 2).toDF("x"))            // v1
    SnapshotTable.commit(spark, root, Seq(3).toDF("x"))               // v2 (append: shares v1 files)
    SnapshotTable.commit(spark, root, Seq(9, 10).toDF("x"), append = false) // v3 (drops v1/v2 files)
    SnapshotTable.commit(spark, root, Seq(11).toDF("x"))              // v4
    val liveBefore = SnapshotTable.read(spark, root).collect().map(_.getInt(0)).sorted
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Files = SnapshotTable.dataFiles(spark, root, 1)
    val v2Files = SnapshotTable.dataFiles(spark, root, 2)
    val v3Files = SnapshotTable.dataFiles(spark, root, 3)
    val v4Files = SnapshotTable.dataFiles(spark, root, 4)
    val (expired, orphaned) = SnapshotTable.expire(spark, root, keepLast = 2)
    assert(expired === Seq(1, 2))
    // v1/v2's files are referenced by no live version → physically gone
    assert(v1Files.forall(f => !fs.exists(new org.apache.hadoop.fs.Path(f))))
    assert(orphaned.toSet === (v1Files ++ v2Files).toSet.diff((v3Files ++ v4Files).toSet))
    // expired versions are unreadable
    intercept[Exception](SnapshotTable.read(spark, root, 1).collect())
    // live versions read exactly what they read before
    assert(SnapshotTable.read(spark, root).collect().map(_.getInt(0)).sorted === liveBefore)
    assert(SnapshotTable.read(spark, root, 3).collect().map(_.getInt(0)).toSet === Set(9, 10))
    // files shared with live versions survive
    assert(v3Files.forall(f => fs.exists(new org.apache.hadoop.fs.Path(f))))
  }

  test("renameColumn is metadata-only; old files read through the new name") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/snap_rename"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1, "a"), (2, "b")).toDF("x", "tag")) // v1
    val v1Files = SnapshotTable.dataFiles(spark, root, 1)
    val v2 = SnapshotTable.renameColumn(spark, root, "x", "amount")             // v2: metadata only
    assert(v2 === 2)
    assert(SnapshotTable.dataFiles(spark, root, 2) === v1Files, "rename must not rewrite data")
    assert(SnapshotTable.read(spark, root).columns.toSeq === Seq("amount", "tag"))
    assert(SnapshotTable.read(spark, root).agg(org.apache.spark.sql.functions.sum("amount"))
      .collect()(0).getLong(0) === 3)
    // appends after the rename use the logical name; physical files stay on "x"
    SnapshotTable.commit(spark, root, Seq((5, "c")).toDF("amount", "tag"))      // v3
    val out = SnapshotTable.read(spark, root).orderBy("amount")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out === Array((1, "a"), (2, "b"), (5, "c")))
    // time travel sees the schema of the day: v1 still reads as "x"
    assert(SnapshotTable.read(spark, root, 1).columns.toSeq === Seq("x", "tag"))
    // delete through the logical name still works and preserves mapping
    SnapshotTable.deleteWhere(spark, root, col("amount") === 2)
    assert(SnapshotTable.read(spark, root).orderBy("amount")
      .collect().map(_.getInt(0)).toSeq === Seq(1, 5))
  }

  test("widenColumn upcasts old narrow files at read; new files write wide") {
    val root = "/tmp/graft_test/snap_widen"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1, 2).toDF("x"))          // int files
    SnapshotTable.widenColumn(spark, root, "x", "bigint")
    assert(SnapshotTable.read(spark, root).schema("x").dataType ===
      org.apache.spark.sql.types.LongType)
    SnapshotTable.commit(spark, root, Seq(3000000000L).toDF("x"))   // long file
    assert(SnapshotTable.read(spark, root).agg(org.apache.spark.sql.functions.sum("x"))
      .collect()(0).getLong(0) === 3000000003L)
    // rename composes with widen
    SnapshotTable.renameColumn(spark, root, "x", "big_x")
    val df = SnapshotTable.read(spark, root)
    assert(df.columns.toSeq === Seq("big_x"))
    assert(df.schema("big_x").dataType === org.apache.spark.sql.types.LongType)
  }

  test("hidden day(ts) partitioning prunes files through the transform") {
    import org.apache.spark.sql.functions._
    val root = "/tmp/graft_test/snap_hidden"
    SnapshotTable.drop(spark, root)
    val df = spark.range(0, 2000).select(
      col("id"),
      (lit("2024-01-01 00:00:00").cast("timestamp") +
        expr("make_interval(0, 0, 0, 0, CAST(id % 240 AS INT), 0, 0)")).as("ts"))
    SnapshotTable.commitPartitionedByDay(spark, root, df, "ts", saltBuckets = 8)
    val pred = col("ts") >= lit("2024-01-03").cast("timestamp") &&
      col("ts") < lit("2024-01-05").cast("timestamp")
    val out = SnapshotTable.readWhere(spark, root, pred)
    // the partition column is hidden: readers see the original schema
    assert(out.columns.toSeq === Seq("id", "ts"))
    // pruning reached the transform: only day 03/04 (and the boundary
    // day of the exclusive upper bound) files are scanned
    val scanned = out.inputFiles
    assert(scanned.nonEmpty)
    assert(scanned.forall(f => f.contains("_graft_day=2024-01-03") ||
      f.contains("_graft_day=2024-01-04") || f.contains("_graft_day=2024-01-05")),
      s"unpruned files: ${scanned.filterNot(_.contains("2024-01-0")).take(3).mkString(",")}")
    val total = SnapshotTable.dataFiles(spark, root, 1).size
    assert(scanned.length < total, "pruning must skip most files")
    // residual predicate still applied exactly
    assert(out.count() === df.filter(pred).count())
    // hot-day salting: a day's rows spread across multiple writer tasks
    // (multiple files) but stay bounded by the salt-bucket count
    val day3 = SnapshotTable.version(spark, root, 1).dataEntries.map(e => (e.path, e.annots))
      .filter(_._2.get("_graft_day").contains("2024-01-03"))
    assert(day3.size > 1 && day3.size <= 8, s"expected 2-8 salted files, got ${day3.size}")
    // unprunable predicate shapes fall back to full scan but stay correct
    val odd = SnapshotTable.readWhere(spark, root, col("id") % 2 === 1)
    assert(odd.count() === 1000)
  }

  test("adaptive day-salting: small batches write one file per day; size target restores the spread") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 2000).select(
      col("id"),
      (lit("2024-02-01 00:00:00").cast("timestamp") +
        expr("make_interval(0, 0, 0, 0, CAST(id % 96 AS INT), 0, 0)")).as("ts"))
    def filesPerDay(root: String) =
      SnapshotTable.version(spark, root, 1).dataEntries.map(e => (e.path, e.annots))
        .groupBy(_._2.get("_graft_day")).map { case (d, fs) => d -> fs.size }
    // default: the batch is far below one target file per day, so the
    // salt collapses and each day lands as exactly one file
    val root = "/tmp/graft_test/snap_salt_adaptive"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commitPartitionedByDay(spark, root, df, "ts")
    val small = filesPerDay(root)
    assert(small.keySet.flatten.size === 4)
    assert(small.values.forall(_ === 1),
      s"small batch must write one file per day, got $small")
    // a batch past the size target (simulated by lowering it) keeps
    // the hot-day spread — the cluster-scale behavior
    val root2 = "/tmp/graft_test/snap_salt_adaptive_big"
    SnapshotTable.drop(spark, root2)
    spark.conf.set("spark.graft.write.saltTargetBytes", "1")
    try SnapshotTable.commitPartitionedByDay(spark, root2, df, "ts")
    finally spark.conf.unset("spark.graft.write.saltTargetBytes")
    val spread = filesPerDay(root2)
    assert(spread.values.exists(_ > 1) && spread.values.forall(_ <= 4),
      s"big batch must salt-spread each day into 2-4 files, got $spread")
    // layout is the only difference: both tables read back identically
    assert(SnapshotTable.read(spark, root).count() === 2000)
    assert(SnapshotTable.read(spark, root2).count() === 2000)
  }

  test("salt feedback: an underestimated batch is re-salted from actual bytes") {
    import org.apache.spark.sql.functions._
    // each row carries ~4 KB of high-entropy text that Catalyst's
    // size estimate prices at the 20-byte string default — the
    // under-estimate failure mode (VERDICT r20 item 5): the estimate
    // picks salt=1, the actual bytes demand the full spread
    val df = spark.range(0, 2000).select(
      col("id"),
      (lit("2024-03-01 00:00:00").cast("timestamp") +
        expr("make_interval(0, 0, 0, 0, CAST(id % 96 AS INT), 0, 0)")).as("ts"),
      expr("concat_ws('', transform(sequence(0, 63), " +
        "i -> sha2(concat(cast(id AS string), ':', cast(i AS string)), 256)))")
        .as("pad"))
    def filesPerDay(root: String) =
      SnapshotTable.version(spark, root, 1).dataEntries.map(e => (e.path, e.annots))
        .groupBy(_._2.get("_graft_day")).map { case (d, fs) => d -> fs.size }
    val root = "/tmp/graft_test/snap_salt_feedback"
    SnapshotTable.drop(spark, root)
    spark.conf.set("spark.graft.write.saltTargetBytes", "262144")
    try SnapshotTable.commitPartitionedByDay(spark, root, df, "ts")
    finally spark.conf.unset("spark.graft.write.saltTargetBytes")
    val perDay = filesPerDay(root)
    // the post-write bytes check must have re-salted: hot days split
    // across files again instead of one giant unsplittable file each
    assert(perDay.keySet.flatten.size === 4)
    assert(perDay.values.exists(_ > 1) && perDay.values.forall(_ <= 4),
      s"underestimated batch must end salt-spread, got $perDay")
    // …and the layout is EXACTLY what a correct up-front estimate
    // would have produced (same salt count → same (day, salt) →
    // shuffle-partition assignment → same files per day)
    val root2 = "/tmp/graft_test/snap_salt_feedback_ref"
    SnapshotTable.drop(spark, root2)
    spark.conf.set("spark.graft.write.saltTargetBytes", "1")
    try SnapshotTable.commitPartitionedByDay(spark, root2, df, "ts")
    finally spark.conf.unset("spark.graft.write.saltTargetBytes")
    assert(perDay === filesPerDay(root2),
      s"feedback layout must match the correct-estimate layout: $perDay vs ${filesPerDay(root2)}")
    assert(SnapshotTable.currentVersion(spark, root) === 1)
    assert(SnapshotTable.read(spark, root).count() === 2000)
  }

  test("branch staging is invisible to main; publish fast-forwards zero-copy") {
    val root = "/tmp/graft_test/snap_branch"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1, 2, 3).toDF("x"))
    SnapshotTable.createBranch(spark, root, "audit")
    SnapshotTable.commitToBranch(spark, root, "audit", Seq(4, 5).toDF("x"))
    // staged rows visible on the branch, NOT on main
    assert(SnapshotTable.readBranch(spark, root, "audit").count() === 5)
    assert(SnapshotTable.read(spark, root).count() === 3)
    assert(SnapshotTable.currentVersion(spark, root) === 1)
    // a second staged commit moves the branch ref
    SnapshotTable.commitToBranch(spark, root, "audit", Seq(6).toDF("x"))
    assert(SnapshotTable.branchHead(spark, root, "audit") === "audit.v2")
    assert(SnapshotTable.readBranch(spark, root, "audit").count() === 6)
    // publish = zero-copy fast-forward: main's new manifest references
    // the branch head's files verbatim
    val v = SnapshotTable.publishBranch(spark, root, "audit")
    assert(v === 2 && SnapshotTable.currentVersion(spark, root) === 2)
    assert(SnapshotTable.read(spark, root).count() === 6)
    assert(SnapshotTable.read(spark, root).collect().map(_.getInt(0)).toSet
      === Set(1, 2, 3, 4, 5, 6))
    // time travel to pre-publish main still works
    assert(SnapshotTable.read(spark, root, 1).count() === 3)
  }

  test("dropping an unpublished branch leaves main bit-identical") {
    val root = "/tmp/graft_test/snap_branch_drop"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1, 2).toDF("x"))
    val filesBefore = SnapshotTable.dataFiles(spark, root, 1)
    SnapshotTable.createBranch(spark, root, "bad")
    SnapshotTable.commitToBranch(spark, root, "bad", Seq(-1).toDF("x"))
    SnapshotTable.dropBranch(spark, root, "bad")
    assert(SnapshotTable.currentVersion(spark, root) === 1)
    assert(SnapshotTable.dataFiles(spark, root, 1) === filesBefore)
    assert(SnapshotTable.branches(spark, root) === Map.empty)
    // re-creating the name after a drop is allowed (unlike tags)
    SnapshotTable.createBranch(spark, root, "bad")
    assert(SnapshotTable.branches(spark, root) === Map("bad" -> "v1"))
  }

  test("branch name collision and double-create fail loudly") {
    val root = "/tmp/graft_test/snap_branch_dup"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1).toDF("x"))
    SnapshotTable.createBranch(spark, root, "b1")
    intercept[IllegalStateException] {
      SnapshotTable.createBranch(spark, root, "b1")
    }
  }

  test("expire keeps files referenced only by a live branch") {
    val root = "/tmp/graft_test/snap_branch_expire"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1, 2).toDF("x"))      // v1
    SnapshotTable.createBranch(spark, root, "wip", fromVersion = 1)
    SnapshotTable.commitToBranch(spark, root, "wip", Seq(3).toDF("x"))
    // main moves on with an overwrite; v1's files are now referenced
    // only by v1 and the branch
    SnapshotTable.commit(spark, root, Seq(9).toDF("x"), append = false) // v2
    SnapshotTable.commit(spark, root, Seq(10).toDF("x"), append = false) // v3
    val (expired, deleted) = SnapshotTable.expire(spark, root, keepLast = 2)
    assert(expired === Seq(1))
    assert(deleted.isEmpty) // v1's files live on through the branch
    assert(SnapshotTable.readBranch(spark, root, "wip").count() === 3)
  }

  test("shallow clone is zero-copy and diverges independently") {
    val src = "/tmp/graft_test/clone_src"
    val dst = "/tmp/graft_test/clone_dst"
    SnapshotTable.drop(spark, src)
    SnapshotTable.drop(spark, dst)
    SnapshotTable.commit(spark, src, Seq(1, 2, 3).toDF("x"))
    SnapshotTable.commit(spark, src, Seq(4, 5).toDF("x"))
    SnapshotTable.shallowClone(spark, src, dst)
    // zero-copy: the clone's v1 references the SOURCE's physical files
    assert(SnapshotTable.dataFiles(spark, dst, 1).toSet ===
      SnapshotTable.dataFiles(spark, src, 2).toSet)
    assert(SnapshotTable.read(spark, dst).count() === 5)
    // divergence: commits to the clone never touch the source
    SnapshotTable.commit(spark, dst, Seq(6).toDF("x"))
    assert(SnapshotTable.read(spark, dst).count() === 6)
    assert(SnapshotTable.currentVersion(spark, src) === 2)
    assert(SnapshotTable.read(spark, src).count() === 5)
    // a clone of an EMPTY table, or onto an existing table, fails loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.shallowClone(spark, src, dst)
    }
  }

  test("timestamp time travel reads the version current at that instant") {
    val root = "/tmp/graft_test/tt_ts"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1, 2).toDF("x"))
    Thread.sleep(2)
    SnapshotTable.commit(spark, root, Seq(3).toDF("x"))
    val t1 = SnapshotTable.version(spark, root, 1).committedAt
    val t2 = SnapshotTable.version(spark, root, 2).committedAt
    assert(t2 > t1, "commit stamps must be strictly increasing")
    assert(SnapshotTable.readAsOf(spark, root, t1).count() === 2)
    assert(SnapshotTable.readAsOf(spark, root, t2 - 1).count() === 2) // between commits
    assert(SnapshotTable.readAsOf(spark, root, t2).count() === 3)
    assert(SnapshotTable.readAsOf(spark, root, System.currentTimeMillis).count() === 3)
    intercept[IllegalArgumentException] {
      SnapshotTable.readAsOf(spark, root, t1 - 1) // before the table existed
    }
  }

  test("expire on the SOURCE can orphan a clone (documented caveat)") {
    val src = "/tmp/graft_test/clone_exp_src"
    val dst = "/tmp/graft_test/clone_exp_dst"
    SnapshotTable.drop(spark, src)
    SnapshotTable.drop(spark, dst)
    SnapshotTable.commit(spark, src, Seq(1, 2).toDF("x"))
    SnapshotTable.shallowClone(spark, src, dst)
    // source rewrites then expires history: v1's files are reclaimed
    SnapshotTable.commit(spark, src, Seq(9).toDF("x"), append = false)
    SnapshotTable.expire(spark, src, keepLast = 1)
    assert(SnapshotTable.read(spark, src).count() === 1) // source fine
    // the clone still references the reclaimed v1 files → read fails;
    // clones must not outlive their source's retention (scaladoc'd)
    intercept[Exception] {
      SnapshotTable.read(spark, dst).count()
    }
  }

  test("drop removes the table") {
    val root = "/tmp/graft_test/snap_drop"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1).toDF("x"))
    SnapshotTable.drop(spark, root)
    assert(SnapshotTable.currentVersion(spark, root) === 0)
  }

  test("recordCount is metadata-only: correct with the data directory renamed away") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/snap_rows_meta"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq(1, 2, 3, 4).toDF("x"))           // v1: 4 rows
    SnapshotTable.commit(spark, root, Seq(5, 6).toDF("x"))                 // v2: 6 rows
    SnapshotTable.deleteWhere(spark, root, col("x") % 2 === 0)             // v3: 3 rows (1,3,5)
    SnapshotTable.commit(spark, root, Seq(9).toDF("x"), append = false)    // v4: 1 row
    // the pin: every data file becomes unreadable, counts must survive
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$root/data"),
      new org.apache.hadoop.fs.Path(s"$root/data_hidden")))
    try {
      assert(SnapshotTable.recordCount(spark, root, 1) === 4L)
      assert(SnapshotTable.recordCount(spark, root, 2) === 6L)
      assert(SnapshotTable.recordCount(spark, root, 3) === 3L)
      assert(SnapshotTable.recordCount(spark, root, 4) === 1L)
    } finally fs.rename(
      new org.apache.hadoop.fs.Path(s"$root/data_hidden"),
      new org.apache.hadoop.fs.Path(s"$root/data"))
  }

  test("copy-on-write and metadata-only commits preserve per-file annotations") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/snap_annot_keep"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "amount").repartition(3, $"k"),
      statsCols = Seq("amount"))
    SnapshotTable.deleteWhere(spark, root, col("k") === 1)
    SnapshotTable.renameColumn(spark, root, "amount", "amt")
    val cur = SnapshotTable.currentVersion(spark, root)
    val withAnnots =
      SnapshotTable.version(spark, root, cur).dataEntries.map(e => (e.path, e.annots))
    // untouched files carried their stats through the rewrite AND the
    // rename; every line still has its _rows count
    assert(withAnnots.nonEmpty)
    assert(withAnnots.forall { case (_, a) => a.contains("_rows") })
    assert(withAnnots.exists { case (_, a) => a.contains("_min_amount") })
  }

  test("DROP COLUMN is metadata-only: time travel keeps the data, the id stays burned") {
    import org.apache.spark.sql.functions.col
    val root = "/tmp/graft_test/snap_drop_col"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "v", "score"))
    SnapshotTable.renameColumn(spark, root, "v", "label") // physical stays "v"
    val vPre = SnapshotTable.currentVersion(spark, root)
    val vDrop = SnapshotTable.dropColumn(spark, root, "label")
    assert(vDrop === vPre + 1, "drop must be one metadata-only commit")
    assert(SnapshotTable.dataFiles(spark, root, vDrop).toSet ===
      SnapshotTable.dataFiles(spark, root, vPre).toSet, "no files rewritten")
    // HEAD loses the column; time travel still reads its DATA
    assert(SnapshotTable.read(spark, root).columns.toSeq === Seq("id", "score"))
    assert(SnapshotTable.read(spark, root, vPre).orderBy("id")
      .select("label").collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    // appends after the drop: new files never carry it, mixed set reads green
    SnapshotTable.commitAppend(spark, root, Seq((3L, 3.5)).toDF("id", "score"))
    assert(SnapshotTable.read(spark, root).count() === 3)
    assert(SnapshotTable.read(spark, root).columns.toSeq === Seq("id", "score"))
    // a CoW delete touching an old (label-carrying) file must not
    // resurrect the dropped column into the rewrite
    SnapshotTable.deleteWhere(spark, root, col("id") === 1L)
    assert(SnapshotTable.read(spark, root).columns.toSeq === Seq("id", "score"))
    assert(SnapshotTable.read(spark, root).count() === 2)
    // the physical name is off-limits for re-adds; a new name takes a
    // FRESH id past the tombstone (never the dropped field's 2)
    intercept[IllegalArgumentException] {
      SnapshotTable.addColumn(spark, root, "v", "string")
    }
    SnapshotTable.addColumn(spark, root, "note", "string")
    val ids = SnapshotTable.fieldIds(spark, root,
      SnapshotTable.currentVersion(spark, root))
    assert(ids("note") === 4, s"tombstoned id must stay burned: $ids")
    // renaming a live column TO the dropped physical name would make
    // the exported name-mapping ambiguous — refused
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, root, "score", "v")
    }
    // a column arriving BY APPEND after the drop: its footer field id
    // must also skip the tombstone (3), agreeing with fieldIds' 5
    val vExtra = SnapshotTable.commitAppend(spark, root,
      Seq((9L, 9.5, "x", 1.0)).toDF("id", "score", "note", "extra"))
    val newFiles = SnapshotTable.dataFiles(spark, root, vExtra).toSet --
      SnapshotTable.dataFiles(spark, root, vExtra - 1).toSet
    assert(newFiles.size === 1, s"vExtra=$vExtra newFiles=$newFiles")
    val extraFile = newFiles.head
    val footer = {
      import scala.jdk.CollectionConverters._
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(extraFile),
          spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> Option(f.getId).map(_.intValue)).toMap
      finally r.close()
    }
    assert(footer.get("extra").flatten === Some(5),
      s"footer id must skip the tombstone and match fieldIds: $footer ($extraFile)")
    assert(SnapshotTable.fieldIds(spark, root,
      SnapshotTable.currentVersion(spark, root))("extra") === 5)
    // refusals: the day-partition source and stats-registered columns
    val proot = "/tmp/graft_test/snap_drop_part"
    SnapshotTable.drop(spark, proot)
    SnapshotTable.commitPartitionedByDay(spark, proot,
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 5.0))
        .toDF("id", "ts", "x"), "ts")
    assert(SnapshotTable.dropRefusal(spark, proot, "ts").exists(_.contains("partitioned")))
    val sroot = "/tmp/graft_test/snap_drop_stats"
    SnapshotTable.drop(spark, sroot)
    SnapshotTable.commit(spark, sroot, Seq((1L, 2.0)).toDF("id", "x"),
      statsCols = Seq("x"))
    assert(SnapshotTable.dropRefusal(spark, sroot, "x").exists(_.contains("stats")))
  }

  test("a column carried ONLY by middle files still reads its data") {
    // ADVICE r15: the widened-read schema samples the newest and
    // oldest footers; a column added, written by ONE append, then
    // omitted by later appends (commit accepts frames missing
    // columns) lives only in a MIDDLE file — its data must surface,
    // not be silently replaced with typed NULLs.
    val root = "/tmp/graft_test/snap_middle_col"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.addColumn(spark, root, "score", "double")
    SnapshotTable.commitAppend(spark, root,
      Seq((2L, "b", 1.5)).toDF("id", "v", "score")) // the only score-carrying file
    SnapshotTable.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "v"))
    val got = SnapshotTable.read(spark, root).orderBy("id")
      .select("id", "score").collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq === Seq(1L -> None, 2L -> Some(1.5), 3L -> None),
      s"middle-file column data lost: ${got.toSeq}")
    // absent-everywhere columns still materialize as typed NULLs
    SnapshotTable.addColumn(spark, root, "never", "string")
    val head = SnapshotTable.read(spark, root)
    assert(head.columns.contains("never") &&
      head.filter(org.apache.spark.sql.functions.col("never").isNotNull).count() === 0)
  }

  test("drop purges the absent-column memo: a recreated table re-probes") {
    // ADVICE r16: the absent-everywhere verdict is cached per
    // root@version; versions restart after drop, so a stale entry
    // from the OLD table could blind the NEW table's middle-footer
    // probe and read a middle-file-only column as typed NULLs.
    val root = "/tmp/graft_test/snap_memo_drop"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.addColumn(spark, root, "score", "double")
    SnapshotTable.commitAppend(spark, root, Seq((2L, "b")).toDF("id", "v"))
    SnapshotTable.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "v"))
    // this read probes all footers and memoizes "score absent" @v3
    assert(SnapshotTable.read(spark, root)
      .filter(org.apache.spark.sql.functions.col("score").isNotNull).count() === 0)
    // same root, new table lifetime: v3's MIDDLE file now carries score
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.addColumn(spark, root, "score", "double")
    SnapshotTable.commitAppend(spark, root,
      Seq((2L, "b", 2.5)).toDF("id", "v", "score"))
    SnapshotTable.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "v"))
    val got = SnapshotTable.read(spark, root).orderBy("id")
      .select("id", "score").collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq === Seq(1L -> None, 2L -> Some(2.5), 3L -> None),
      s"stale memo blinded the recreated table's probe: ${got.toSeq}")
  }

  test("partitioned-day commits reuse persistent field ids across a rename") {
    // ADVICE r15: commitPartitionedByDay hand-rolled its id assignment,
    // skipping the column-mapping translation — a frame carrying a
    // renamed column's PHYSICAL name burned a fresh id that disagreed
    // with the exported metadata. It now shares physFieldIds.
    val root = "/tmp/graft_test/snap_day_ids"
    SnapshotTable.drop(spark, root)
    def frame(id: Long) = Seq(
      (id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 5.0))
      .toDF("id", "ts", "v")
    SnapshotTable.commitPartitionedByDay(spark, root, frame(1L), "ts")
    val ids1 = SnapshotTable.fieldIds(spark, root, 1)
    SnapshotTable.renameColumn(spark, root, "v", "amount")
    // a writer still shipping the PHYSICAL name: same field, same id
    val v3 = SnapshotTable.commitPartitionedByDay(spark, root, frame(2L), "ts")
    val ids3 = SnapshotTable.fieldIds(spark, root, v3)
    assert(ids3("amount") === ids1("v"),
      s"physical-name frame must keep the renamed column's id: $ids1 -> $ids3")
    assert(ids3.values.toSeq.distinct.size === ids3.size, s"duplicate ids: $ids3")
    assert(!ids3.contains("v"), s"no duplicate physical-keyed entry: $ids3")
    // and the footers agree with the metadata assignment
    val newFiles = SnapshotTable.dataFiles(spark, root, v3).toSet --
      SnapshotTable.dataFiles(spark, root, v3 - 1).toSet
    val footer = {
      import scala.jdk.CollectionConverters._
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(newFiles.head),
          spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> Option(f.getId).map(_.intValue)).toMap
      finally r.close()
    }
    assert(footer.get("v").flatten === Some(ids1("v")),
      s"footer must stamp the persistent id on the physical column: $footer")
  }

  test("a branch commit and its publish keep properties, field ids and dropped columns") {
    val root = "/tmp/graft_test/snap_branch_headers"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a", "x")).toDF("id", "v", "gone"))
    SnapshotTable.setProperties(spark, root, Map("owner" -> "ops"))
    val cur = SnapshotTable.dropColumn(spark, root, "gone")
    SnapshotTable.createBranch(spark, root, "audit")
    SnapshotTable.commitToBranch(spark, root, "audit", Seq((2L, "b")).toDF("id", "v"))
    assert(SnapshotTable.readBranch(spark, root, "audit").columns.toSeq === Seq("id", "v"))
    val v = SnapshotTable.publishBranch(spark, root, "audit")
    assert(SnapshotTable.read(spark, root, v).columns.toSeq === Seq("id", "v"),
      "the dropped column stays dropped")
    assert(SnapshotTable.version(spark, root, v).properties === Map("owner" -> "ops"))
    assert(SnapshotTable.fieldIds(spark, root, v) === SnapshotTable.fieldIds(spark, root, cur))
    assert(SnapshotTable.version(spark, root, v).droppedColumns ===
      SnapshotTable.version(spark, root, cur).droppedColumns)
  }
}
