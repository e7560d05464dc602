package graft

import org.apache.spark.sql.functions._

import graft.lake.SnapshotTable

/** Merge-on-read positional deletes + MoR UPDATE: the spec the
  * LakeOps doc comments pin. Covers (a) O(1) write amplification,
  * (b) compactDeletes content preservation + delete-bearing-only
  * rewrite, (c) expire retention of live delete files, (d) CoW after
  * MoR — no resurrection AND recordCount stays truthful (delete rows
  * covered by a rewrite must not be subtracted twice), (e) time
  * travel / changes() / branch reads under pending deletes,
  * (f) updateWhereMor parity with copy-on-write updateWhere,
  * (g) CDC resurrection on rollback past a MoR delete, (h) widen
  * interplay (mixed-width file sets must compact, not throw).
  */
class MorDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(root: String, n: Int = 40, parts: Int = 4): Unit = {
    SnapshotTable.drop(spark, root)
    val df = spark.range(n).select(
      col("id"), (col("id") % 10).as("grp"), (col("id") * 2).cast("int").as("v"))
    SnapshotTable.commit(spark, root, df.repartition(parts))
    ()
  }

  test("(a) MoR delete is O(1) write amplification: all data files re-referenced, one delete commit") {
    val root = "/tmp/graft_test/mor_amp"
    mkTable(root)
    val dataBefore = SnapshotTable.dataFiles(spark, root, 1).toSet
    assert(dataBefore.size >= 2, "need a multi-file table to prove re-reference")
    val v = SnapshotTable.deleteWhereMor(spark, root, col("id") === 7L)
    assert(v === 2)
    // every data file re-referenced verbatim; no data file rewritten
    assert(SnapshotTable.dataFiles(spark, root, 2).toSet === dataBefore)
    val delFiles = SnapshotTable.deleteFiles(spark, root, 2)
    assert(delFiles.nonEmpty, "delete commit must reference a positional delete file")
    // a 1-row trickle delete must stay tiny: its delete files carry
    // exactly 1 row total (AQE coalesces the Δ-row shuffle)
    assert(spark.read.parquet(delFiles: _*).count() === 1)
    assert(SnapshotTable.read(spark, root).count() === 39)
    assert(!SnapshotTable.read(spark, root).where(col("id") === 7L).limit(1)
      .collect().nonEmpty)
    // deleting an already-dead row is a no-op commit (positions never duplicate)
    assert(SnapshotTable.deleteWhereMor(spark, root, col("id") === 7L) === 2)
    // recordCount is metadata-only and nets the delete rows out
    assert(SnapshotTable.recordCount(spark, root, 2) === 39)
    assert(SnapshotTable.recordCount(spark, root, 1) === 40)
  }

  test("(a) MoR delete matches copy-on-write delete row-for-row") {
    val rootMor = "/tmp/graft_test/mor_parity_m"
    val rootCow = "/tmp/graft_test/mor_parity_c"
    mkTable(rootMor); mkTable(rootCow)
    SnapshotTable.deleteWhereMor(spark, rootMor, col("grp") === 3L)
    SnapshotTable.deleteWhere(spark, rootCow, col("grp") === 3L)
    val m = SnapshotTable.read(spark, rootMor).orderBy("id").collect()
    val c = SnapshotTable.read(spark, rootCow).orderBy("id").collect()
    assert(m.toSeq === c.toSeq)
    // NULL-predicate rows stay (SQL DELETE semantics): ids 0,1,2,4
    // survive (3 went with grp=3), id 5 goes
    SnapshotTable.deleteWhereMor(spark, rootMor,
      when(col("id") < 5L, lit(null).cast("boolean")).otherwise(col("id") === 5L))
    assert(SnapshotTable.read(spark, rootMor).where(col("id") < 5L).count() === 4)
    assert(SnapshotTable.read(spark, rootMor).where(col("id") === 5L).count() === 0)
  }

  test("(b) compactDeletes preserves content, rewrites only delete-bearing files, drops all delete refs") {
    val root = "/tmp/graft_test/mor_compact"
    mkTable(root)
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 2L || col("id") === 31L)
    val before = SnapshotTable.read(spark, root).orderBy("id").collect()
    val dataV2 = SnapshotTable.dataFiles(spark, root, 2)
    // which files actually bear deletes (read the positional files)
    val dels = SnapshotTable.deleteFiles(spark, root, 2)
    val bearing = spark.read.parquet(dels: _*).select("file_path")
      .distinct().collect().map(_.getString(0)).toSet
    assert(bearing.nonEmpty && bearing.size < dataV2.size,
      "fixture must leave some files untouched to prove partial rewrite")
    val v3 = SnapshotTable.compactDeletes(spark, root)
    assert(v3 === 3)
    // read-back equivalence, byte-for-byte row content
    assert(SnapshotTable.read(spark, root).orderBy("id").collect().toSeq === before.toSeq)
    // all delete refs gone; subsequent reads pay zero anti-join
    assert(SnapshotTable.deleteFiles(spark, root, 3).isEmpty)
    // ONLY delete-bearing files rewritten: the untouched ones keep
    // their exact manifest identity
    val dataV3 = SnapshotTable.dataFiles(spark, root, 3).toSet
    val untouched = dataV2.filterNot(f => bearing.exists(b => b.endsWith(f) || f.endsWith(b.stripPrefix("file:"))))
    untouched.foreach(f => assert(dataV3.contains(f), s"untouched file $f must survive verbatim"))
    // compacting a table with no pending deletes is a no-op
    assert(SnapshotTable.compactDeletes(spark, root) === 3)
    // recordCount unchanged by compaction
    assert(SnapshotTable.recordCount(spark, root, 3) === 38)
  }

  test("(c) expire keeps delete files referenced by live versions, reclaims expired-only ones") {
    val root = "/tmp/graft_test/mor_expire"
    mkTable(root)
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 1L) // v2: del file A
    SnapshotTable.compactDeletes(spark, root)                   // v3: A unreferenced
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 2L) // v4: del file B (live)
    val delA = SnapshotTable.deleteFiles(spark, root, 2)
    val delB = SnapshotTable.deleteFiles(spark, root, 4)
    assert(delA.nonEmpty && delB.nonEmpty && delA.toSet != delB.toSet)
    val (expired, reclaimed) = SnapshotTable.expire(spark, root, keepLast = 1)
    assert(expired === Seq(1, 2, 3))
    // A was referenced only by expired versions → reclaimed; B is live → kept
    assert(delA.forall(reclaimed.contains), s"expired-only delete file must be reclaimed: $reclaimed")
    assert(delB.forall(f => !reclaimed.contains(f)), "live delete file must survive expire")
    assert(SnapshotTable.read(spark, root).count() === 38)
  }

  test("(d) CoW update after MoR delete: no resurrection, recordCount stays truthful") {
    val root = "/tmp/graft_test/mor_cow_after"
    mkTable(root, n = 10, parts = 1) // ONE data file: the CoW rewrite covers the MoR-deleted rows
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 3L || col("id") === 4L)
    assert(SnapshotTable.recordCount(spark, root, 2) === 8)
    // CoW UPDATE touches the same (single) file: the rewrite applies
    // the pending deletes, so the rewritten file must NOT resurrect
    // ids 3/4 — and the stale delete rows must not be double-counted
    SnapshotTable.updateWhere(spark, root, col("id") === 9L, Map("v" -> lit(999)))
    val rows = SnapshotTable.read(spark, root).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 5L, 6L, 7L, 8L, 9L))
    assert(rows.last.getInt(2) === 999)
    // the undercount bug: stale delete rows carried forward verbatim
    // made this 6 (10 - 2 applied - 2 double-counted)
    assert(SnapshotTable.recordCount(spark, root, 3) === 8)
    // delete rows covering rewritten files are gone from the manifest
    assert(SnapshotTable.deleteFiles(spark, root, 3).isEmpty)
  }

  test("(d) CoW rewrite keeps delete rows that reference UNTOUCHED files") {
    val root = "/tmp/graft_test/mor_cow_partial"
    SnapshotTable.drop(spark, root)
    // two files with disjoint id ranges, committed separately
    SnapshotTable.commit(spark, root,
      spark.range(0, 10).select(col("id"), col("id").cast("int").as("v")).coalesce(1))
    SnapshotTable.commit(spark, root,
      spark.range(10, 20).select(col("id"), col("id").cast("int").as("v")).coalesce(1))
    // MoR-delete one row in EACH file
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 0L || col("id") === 10L)
    assert(SnapshotTable.recordCount(spark, root, 3) === 18)
    // CoW update touches only the second file → its delete row is
    // applied+dropped; the first file's delete row must survive
    SnapshotTable.updateWhere(spark, root, col("id") === 19L, Map("v" -> lit(-1)))
    assert(SnapshotTable.recordCount(spark, root, 4) === 18)
    val ids = SnapshotTable.read(spark, root).orderBy("id").collect().map(_.getLong(0))
    assert(!ids.contains(0L) && !ids.contains(10L) && ids.length === 18)
    assert(SnapshotTable.deleteFiles(spark, root, 4).nonEmpty,
      "delete rows for untouched files must be carried (rewritten), not lost")
  }

  test("(e) time travel, changes(), and branch reads under pending deletes") {
    val root = "/tmp/graft_test/mor_travel"
    mkTable(root)
    SnapshotTable.createBranch(spark, root, "audit")
    SnapshotTable.deleteWhereMor(spark, root, col("grp") === 1L)
    // time travel: v1 still reads the pre-delete content
    assert(SnapshotTable.read(spark, root, 1).count() === 40)
    assert(SnapshotTable.read(spark, root, 2).count() === 36)
    // CDC: the MoR delete surfaces as 4 'delete' rows, no inserts
    val ch = SnapshotTable.changes(spark, root, 1, 2)
      .groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch === Map("delete" -> 4L))
    // a branch created pre-delete reads pre-delete; a branch commit on
    // top of the deleted head inherits the delete
    assert(SnapshotTable.readBranch(spark, root, "audit").count() === 40)
    SnapshotTable.createBranch(spark, root, "post")
    SnapshotTable.commitToBranch(spark, root, "post",
      Seq((100L, 0L, 1)).toDF("id", "grp", "v"))
    assert(SnapshotTable.readBranch(spark, root, "post").count() === 37)
    assert(SnapshotTable.readBranch(spark, root, "post")
      .where(col("grp") === 1L and col("id") < 100L).count() === 0)
  }

  test("(f) MoR update: O(1) amplification, parity with CoW update, compactable") {
    val rootM = "/tmp/graft_test/mor_upd_m"
    val rootC = "/tmp/graft_test/mor_upd_c"
    mkTable(rootM); mkTable(rootC)
    val dataBefore = SnapshotTable.dataFiles(spark, rootM, 1).toSet
    val v = SnapshotTable.updateWhereMor(spark, rootM, col("grp") === 5L,
      Map("v" -> lit(-5), "grp" -> lit(55L)))
    assert(v === 2)
    // all pre-existing data files re-referenced; replacements appended
    val dataAfter = SnapshotTable.dataFiles(spark, rootM, 2).toSet
    assert(dataBefore.subsetOf(dataAfter) && dataAfter.size > dataBefore.size)
    assert(SnapshotTable.deleteFiles(spark, rootM, 2).nonEmpty)
    // row-for-row parity with the CoW path
    SnapshotTable.updateWhere(spark, rootC, col("grp") === 5L,
      Map("v" -> lit(-5), "grp" -> lit(55L)))
    assert(SnapshotTable.read(spark, rootM).orderBy("id").collect().toSeq ===
      SnapshotTable.read(spark, rootC).orderBy("id").collect().toSeq)
    // recordCount net-unchanged (+Δ replacements −Δ delete rows)
    assert(SnapshotTable.recordCount(spark, rootM, 2) === 40)
    // updating no rows is a no-op commit
    assert(SnapshotTable.updateWhereMor(spark, rootM, col("grp") === 999L,
      Map("v" -> lit(0))) === 2)
    // compaction folds the update's delete side in; content preserved
    val before = SnapshotTable.read(spark, rootM).orderBy("id").collect()
    SnapshotTable.compactDeletes(spark, rootM)
    assert(SnapshotTable.deleteFiles(spark, rootM, 3).isEmpty)
    assert(SnapshotTable.read(spark, rootM).orderBy("id").collect().toSeq === before.toSeq)
    // time travel: v1 pre-update
    assert(SnapshotTable.read(spark, rootM, 1).where(col("grp") === 5L).count() === 4)
  }

  test("(g) rollback past a MoR delete surfaces resurrected rows in changes()") {
    val root = "/tmp/graft_test/mor_rollback_cdc"
    mkTable(root)
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 11L) // v2
    SnapshotTable.rollback(spark, root, 1)                       // v3: zero-copy re-reference
    assert(SnapshotTable.read(spark, root).count() === 40)
    // v2→v3 undeletes id=11: CDC must emit it as an 'insert'
    val ch = SnapshotTable.changes(spark, root, 2, 3)
      .select("change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(ch.toSeq === Seq(("insert", 11L)))
  }

  test("(j) stats file-skipping composes with pending MoR deletes") {
    val root = "/tmp/graft_test/mor_skip"
    SnapshotTable.drop(spark, root)
    // range-sorted commit with per-file stats: 8 files, disjoint id ranges
    SnapshotTable.commit(spark, root,
      spark.range(800).select(col("id"), (col("id") % 10).as("grp"))
        .repartitionByRange(8, col("id")),
      statsCols = Seq("id"))
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 42L)
    val all = SnapshotTable.dataFiles(spark, root, 2)
    val df = SnapshotTable.readWhere(spark, root, col("id") < 100L)
    // pruning must still engage on the delete-bearing table...
    assert(df.inputFiles.count(f => all.exists(a => f.endsWith(a.split('/').last))) < all.size,
      s"expected file skipping; read ${df.inputFiles.length} of ${all.size}")
    // ...and the pruned read still honors the positional delete
    val ids = df.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.length === 99 && !ids.contains(42L))
  }

  test("(k) delete/update planning scans are manifest-pruned on stats tables") {
    val root = "/tmp/graft_test/mor_plan_prune"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      spark.range(800).select(col("id"), (col("id") * 2).cast("int").as("v"))
        .repartitionByRange(8, col("id")),
      statsCols = Seq("id"))
    // a predicate outside every file's [min,max] is decided from
    // METADATA alone: no scan, no commit, version unchanged
    assert(SnapshotTable.deleteWhereMor(spark, root, col("id") === 99999L) === 1)
    assert(SnapshotTable.deleteWhere(spark, root, col("id") === 99999L) === 1)
    assert(SnapshotTable.updateWhereMor(spark, root, col("id") === 99999L,
      Map("v" -> lit(0))) === 1)
    // an in-bounds trickle delete through the pruned planning path
    // still lands exactly one position
    val v2 = SnapshotTable.deleteWhereMor(spark, root, col("id") === 42L)
    assert(v2 === 2)
    assert(spark.read.parquet(SnapshotTable.deleteFiles(spark, root, 2): _*).count() === 1)
    assert(SnapshotTable.read(spark, root).count() === 799)
    // pruned CoW update: only the one candidate file rewrites
    val before = SnapshotTable.dataFiles(spark, root, 2).toSet
    SnapshotTable.updateWhere(spark, root, col("id") === 7L, Map("v" -> lit(-1)))
    val after = SnapshotTable.dataFiles(spark, root, 3).toSet
    assert((before -- after).size === 1,
      s"exactly one file must be rewritten, lost ${(before -- after).size}")
    assert(SnapshotTable.read(spark, root).where(col("id") === 7L)
      .select("v").collect().map(_.getInt(0)).toSeq === Seq(-1))
  }

  test("(i) applyChangesMor: CDC batch = one O(Δ) commit with exceptAll multiset parity") {
    val root = "/tmp/graft_test/mor_cdc_apply"
    SnapshotTable.drop(spark, root)
    // replica holds DUPLICATE rows: (1,"a") twice — a delete image
    // must remove exactly ONE instance (exceptAll semantics)
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
        .toDF("id", "v").coalesce(1))
    val dataBefore = SnapshotTable.dataFiles(spark, root, 1).toSet
    val v = SnapshotTable.applyChangesMor(spark, root,
      inserts = Seq((4L, "d")).toDF("id", "v"),
      deleteImages = Seq((1L, "a"), (3L, null.asInstanceOf[String])).toDF("id", "v"))
    assert(v === 2)
    // O(Δ): every pre-existing data file re-referenced, not rewritten
    assert(dataBefore.subsetOf(SnapshotTable.dataFiles(spark, root, 2).toSet))
    assert(SnapshotTable.deleteFiles(spark, root, 2).nonEmpty)
    val got = SnapshotTable.read(spark, root).orderBy("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // one (1,a) survives; the null-keyed image matched null-safely
    assert(got.toSeq === Seq((1L, "a"), (2L, "b"), (4L, "d")))
    assert(SnapshotTable.recordCount(spark, root, 2) === 3)
    // delete-free batch: append-only commit, no planning scan needed
    SnapshotTable.applyChangesMor(spark, root,
      inserts = Seq((5L, "e")).toDF("id", "v"),
      deleteImages = Seq.empty[(Long, String)].toDF("id", "v"))
    assert(SnapshotTable.read(spark, root).count() === 4)
    assert(SnapshotTable.deleteFiles(spark, root, 3).size ===
      SnapshotTable.deleteFiles(spark, root, 2).size)
  }

  test("(i) applyChangesMor: delete images matching no live row commit no delete file") {
    val root = "/tmp/graft_test/mor_cdc_nomatch"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val v = SnapshotTable.applyChangesMor(spark, root,
      inserts = Seq((3L, "c")).toDF("id", "v"),
      deleteImages = Seq((9L, "z"), (1L, "b")).toDF("id", "v"))
    assert(v === 2)
    // the empty delete set's directory is removed, so no manifest may
    // reference it: the read must open every file it lists
    assert(SnapshotTable.deleteFiles(spark, root, 2).isEmpty)
    val got = SnapshotTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(SnapshotTable.recordCount(spark, root, 2) === 3)
  }

  test("(h) MoR delete and compaction work across a widened column (mixed-width files)") {
    val root = "/tmp/graft_test/mor_widen"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      spark.range(5).select(col("id"), col("id").cast("int").as("v")).coalesce(1))
    SnapshotTable.widenColumn(spark, root, "v", "bigint")
    // post-widen file is physically int64 while the first is int32
    SnapshotTable.commit(spark, root,
      spark.range(5, 10).select(col("id"), col("id").cast("bigint").as("v")).coalesce(1))
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 2L || col("id") === 7L)
    assert(SnapshotTable.read(spark, root).count() === 8)
    // the compaction read spans both physical widths — the bare-read
    // bug made this throw (Parquet column cannot be converted)
    SnapshotTable.compactDeletes(spark, root)
    assert(SnapshotTable.deleteFiles(spark, root,
      SnapshotTable.currentVersion(spark, root)).isEmpty)
    val rows = SnapshotTable.read(spark, root).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 3L, 4L, 5L, 6L, 8L, 9L))
    assert(SnapshotTable.read(spark, root).schema("v").dataType ===
      org.apache.spark.sql.types.LongType)
  }
}
