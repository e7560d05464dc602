package graft

import org.apache.spark.sql.functions._

import graft.lake.SnapshotTable

/** Equality deletes + streaming upsert (Iceberg v2 equality delete
  * files with sequence-number semantics). Pins: (a) the write is
  * O(keys) with no table read and no data-file changes; (b) sequence
  * ordering — rows appended AFTER a delete with the same key survive,
  * which is what makes a CDC upsert stream converge; (c) upsertEq is
  * one commit whose result equals delete-then-insert; (d) compaction
  * folds equality deletes (only files actually containing matches
  * rewrite) and drops spent refs; (e) recordCount stays exact under
  * pending eq deletes; (f) interplay with positional deletes and
  * copy-on-write; (g) CDC and time travel across eq deletes;
  * (h) expire reclaims expired-only eq-delete files.
  */
class EqDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def mk(root: String, n: Int = 30): Unit = {
    SnapshotTable.drop(spark, root)
    val df = spark.range(n).select(
      col("id"), (col("id") % 5).as("grp"), concat(lit("v"), col("id")).as("v"))
    SnapshotTable.commit(spark, root, df.repartition(3))
    ()
  }

  test("(a) eq delete writes no data files, reads suppress matching rows") {
    val root = "/tmp/graft_test/eq_basic"
    mk(root)
    val dataBefore = SnapshotTable.dataFiles(spark, root, 1).toSet
    val v = SnapshotTable.deleteWhereEq(spark, root, Seq("grp"), Seq(2L).toDF("grp"))
    assert(v === 2)
    assert(SnapshotTable.dataFiles(spark, root, 2).toSet === dataBefore,
      "equality delete must not touch data files")
    assert(SnapshotTable.deleteFiles(spark, root, 2).isEmpty,
      "equality delete must not write positional files")
    assert(SnapshotTable.eqDeleteEntries(spark, root, 2).nonEmpty)
    val ids = SnapshotTable.read(spark, root).select("id").as[Long].collect().sorted
    assert(ids.length === 24 && !ids.exists(_ % 5 == 2))
    // time travel: v1 pre-delete
    assert(SnapshotTable.read(spark, root, 1).count() === 30)
    // recordCount stays EXACT under pending eq deletes (falls back to
    // a real count — the metadata annotation can't know match counts)
    assert(SnapshotTable.recordCount(spark, root, 2) === 24)
  }

  test("(b) sequence ordering: same-key rows appended after the delete survive") {
    val root = "/tmp/graft_test/eq_seq"
    mk(root)
    SnapshotTable.deleteWhereEq(spark, root, Seq("id"), Seq(7L, 8L).toDF("id"))
    // re-insert id=7 AFTER the delete — CDC ordering says it lives
    SnapshotTable.commit(spark, root,
      Seq((7L, 2L, "reborn")).toDF("id", "grp", "v"))
    val rows = SnapshotTable.read(spark, root)
      .where(col("id").isin(7L, 8L)).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2))).toSeq === Seq((7L, "reborn")),
      "the delete must suppress only rows OLDER than itself")
    assert(SnapshotTable.read(spark, root).count() === 29) // 30 - 2 + 1
  }

  test("(c) upsertEq: one commit, update+insert semantics, O(batch) files") {
    val root = "/tmp/graft_test/eq_upsert"
    mk(root)
    val dataBefore = SnapshotTable.dataFiles(spark, root, 1).toSet
    val batch = Seq(
      (3L, 99L, "updated3"),   // existing key → replaced
      (100L, 99L, "fresh100")) // new key → inserted
      .toDF("id", "grp", "v")
    val v = SnapshotTable.upsertEq(spark, root, Seq("id"), batch)
    assert(v === 2)
    assert(dataBefore.subsetOf(SnapshotTable.dataFiles(spark, root, 2).toSet),
      "upsert must re-reference every existing data file")
    val got = SnapshotTable.read(spark, root)
      .where(col("id").isin(3L, 100L)).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq === Seq((3L, 99L, "updated3"), (100L, 99L, "fresh100")))
    assert(SnapshotTable.read(spark, root).count() === 31)
    // a second upsert of the same key converges (stream replays)
    SnapshotTable.upsertEq(spark, root, Seq("id"),
      Seq((3L, 99L, "updated3b")).toDF("id", "grp", "v"))
    assert(SnapshotTable.read(spark, root).where(col("id") === 3L)
      .select("v").as[String].collect().toSeq === Seq("updated3b"))
    assert(SnapshotTable.read(spark, root).count() === 31)
  }

  test("(d) compactDeletes folds eq deletes; only match-bearing files rewrite") {
    val root = "/tmp/graft_test/eq_compact"
    SnapshotTable.drop(spark, root)
    // two files with disjoint grp ranges: only one can contain matches
    SnapshotTable.commit(spark, root,
      spark.range(10).select(col("id"), lit(1L).as("grp")).coalesce(1))
    SnapshotTable.commit(spark, root,
      spark.range(10, 20).select(col("id"), lit(2L).as("grp")).coalesce(1))
    SnapshotTable.deleteWhereEq(spark, root, Seq("grp"), Seq(2L).toDF("grp"))
    val before = SnapshotTable.read(spark, root).orderBy("id").collect()
    assert(before.length === 10)
    val dataV3 = SnapshotTable.dataFiles(spark, root, 3)
    val v4 = SnapshotTable.compactDeletes(spark, root)
    assert(v4 === 4)
    assert(SnapshotTable.eqDeleteEntries(spark, root, 4).isEmpty,
      "compaction must drop every eq-delete ref")
    // content identical, grp=1 file untouched (kept verbatim)
    assert(SnapshotTable.read(spark, root).orderBy("id").collect().toSeq === before.toSeq)
    val dataV4 = SnapshotTable.dataFiles(spark, root, 4).toSet
    assert(dataV4.contains(dataV3.head),
      "the match-free file must survive the compaction verbatim")
    // post-compaction recordCount is metadata-only again
    assert(SnapshotTable.recordCount(spark, root, 4) === 10)
  }

  test("(d2) compaction with spent (match-free) eq deletes is metadata-only") {
    val root = "/tmp/graft_test/eq_spent"
    mk(root, n = 10)
    SnapshotTable.deleteWhereEq(spark, root, Seq("id"), Seq(999L).toDF("id"))
    val dataBefore = SnapshotTable.dataFiles(spark, root, 2).toSet
    val v3 = SnapshotTable.compactDeletes(spark, root)
    assert(v3 === 3)
    assert(SnapshotTable.eqDeleteEntries(spark, root, 3).isEmpty)
    assert(SnapshotTable.dataFiles(spark, root, 3).toSet === dataBefore,
      "no data file contained a match — none may be rewritten")
    assert(SnapshotTable.read(spark, root).count() === 10)
  }

  test("(e) maintenance policy treats any pending eq delete as a trigger") {
    val root = "/tmp/graft_test/eq_policy"
    mk(root)
    SnapshotTable.deleteWhereEq(spark, root, Seq("grp"), Seq(0L).toDF("grp"))
    val v = SnapshotTable.compactDeletesIfNeeded(spark, root)
    assert(v === 3 && SnapshotTable.eqDeleteEntries(spark, root, v).isEmpty)
    assert(SnapshotTable.read(spark, root).count() === 24)
  }

  test("(f) equality + positional deletes + CoW compose") {
    val root = "/tmp/graft_test/eq_mixed"
    mk(root)
    SnapshotTable.deleteWhereEq(spark, root, Seq("grp"), Seq(4L).toDF("grp")) // 6 rows
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 0L)               // 1 row
    assert(SnapshotTable.read(spark, root).count() === 23)
    // MoR planning ran against the eq-filtered view: re-deleting an
    // eq-dead row earns no position
    SnapshotTable.deleteWhereMor(spark, root, col("grp") === 4L)
    assert(SnapshotTable.currentVersion(spark, root) === 3,
      "deleting eq-dead rows must be a no-op commit")
    // CoW update must not resurrect eq-deleted rows
    SnapshotTable.updateWhere(spark, root, col("id") === 1L, Map("v" -> lit("u1")))
    val ids = SnapshotTable.read(spark, root).select("id").as[Long].collect()
    assert(ids.length === 23 && !ids.exists(_ % 5 == 4) && !ids.contains(0L))
    // and the whole stack compacts to a clean manifest
    val vc = SnapshotTable.compactDeletes(spark, root)
    assert(SnapshotTable.eqDeleteEntries(spark, root, vc).isEmpty &&
      SnapshotTable.deleteFiles(spark, root, vc).isEmpty)
    assert(SnapshotTable.read(spark, root).count() === 23)
  }

  test("(g) CDC: changes() across an eq delete and an upsert") {
    val root = "/tmp/graft_test/eq_cdc"
    mk(root, n = 10)
    SnapshotTable.deleteWhereEq(spark, root, Seq("id"), Seq(4L).toDF("id"))
    val ch = SnapshotTable.changes(spark, root, 1, 2)
      .select("change_type", "id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(ch.toSeq === Seq(("delete", 4L)))
    SnapshotTable.upsertEq(spark, root, Seq("id"), Seq((5L, 1L, "u5")).toDF("id", "grp", "v"))
    val ch2 = SnapshotTable.changes(spark, root, 2, 3)
      .select("change_type", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_.toString)
    assert(ch2.toSeq === Seq(("delete", 5L, "v5"), ("insert", 5L, "u5")),
      s"upsert CDC must show the before-image delete + after-image insert, got ${ch2.toSeq}")
  }

  test("(i) eq delete written pre-widen still matches after the widen (type coercion)") {
    val root = "/tmp/graft_test/eq_widen"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      spark.range(10).select(col("id"), col("id").cast("int").as("k")).coalesce(1))
    // delete file stores k at the narrow physical type (int32)
    SnapshotTable.deleteWhereEq(spark, root, Seq("k"),
      spark.range(1).select(lit(3).cast("int").as("k")))
    SnapshotTable.widenColumn(spark, root, "k", "bigint")
    // post-widen scan reads k as int64; the anti-join against the
    // int32 delete keys must coerce, not miss
    val ks = SnapshotTable.read(spark, root).select("k").collect().map(_.getLong(0))
    assert(ks.length === 9 && !ks.contains(3L))
    // and compaction folds it across the width mismatch
    SnapshotTable.compactDeletes(spark, root)
    assert(SnapshotTable.eqDeleteEntries(spark, root,
      SnapshotTable.currentVersion(spark, root)).isEmpty)
    assert(SnapshotTable.read(spark, root).count() === 9)
  }

  test("(h) expire reclaims expired-only eq-delete files, branch reads honor eq deletes") {
    val root = "/tmp/graft_test/eq_expire"
    mk(root, n = 10)
    SnapshotTable.deleteWhereEq(spark, root, Seq("id"), Seq(2L).toDF("id")) // v2
    SnapshotTable.createBranch(spark, root, "b")
    // branch inherits the eq delete
    assert(SnapshotTable.readBranch(spark, root, "b").count() === 9)
    SnapshotTable.dropBranch(spark, root, "b")
    val eqFiles = SnapshotTable.eqDeleteEntries(spark, root, 2).map(_.path)
    SnapshotTable.compactDeletes(spark, root) // v3: eq file unreferenced
    val (expired, reclaimed) = SnapshotTable.expire(spark, root, keepLast = 1)
    assert(expired === Seq(1, 2))
    assert(eqFiles.forall(reclaimed.contains),
      s"expired-only eq delete file must be reclaimed: $reclaimed")
    assert(SnapshotTable.read(spark, root).count() === 9)
  }

  test("(j) a typo'd key column fails fast and never poisons the table") {
    val root = "/tmp/graft_test/eq_badcol"
    mk(root)
    // ADVICE r9: without validation this COMMITS (the keys frame has
    // the column) and every later read throws unresolved-column
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.deleteWhereEq(spark, root, Seq("grpp"), Seq(2L).toDF("grpp"))
    }
    assert(e1.getMessage.contains("grpp") && e1.getMessage.contains("table columns"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.upsertEq(spark, root, Seq("idd"),
        Seq((1L, 0L, "x")).toDF("idd", "grp", "v"))
    }
    assert(e2.getMessage.contains("idd"))
    // nothing committed, table fully readable
    assert(SnapshotTable.currentVersion(spark, root) === 1)
    assert(SnapshotTable.read(spark, root).count() === 30)
    // renamed (logical) key columns still validate
    SnapshotTable.renameColumn(spark, root, "grp", "bucket")
    val v = SnapshotTable.deleteWhereEq(spark, root, Seq("bucket"), Seq(2L).toDF("bucket"))
    assert(SnapshotTable.read(spark, root, v).count() === 24)
  }

  test("(j2) key columns are checked against the version's schema: added yes, dropped no") {
    val root = "/tmp/graft_test/eq_evolved_keys"
    mk(root)
    // an ADDed column that later appends carry is a valid key, even
    // though the table's oldest file predates it
    SnapshotTable.addColumn(spark, root, "k2", "bigint")
    SnapshotTable.commit(spark, root, Seq((100L, 0L, "v100", 7L)).toDF("id", "grp", "v", "k2"))
    val v = SnapshotTable.upsertEq(spark, root, Seq("k2"),
      Seq((101L, 1L, "v101", 7L)).toDF("id", "grp", "v", "k2"))
    assert(SnapshotTable.read(spark, root, v).filter(col("k2") === 7).select("id")
      .as[Long].collect().toSeq === Seq(101L))
    // a DROPped column is not: its bytes still live in the old files,
    // but no version from the drop on has the column
    SnapshotTable.dropColumn(spark, root, "v")
    val cur = SnapshotTable.currentVersion(spark, root)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.deleteWhereEq(spark, root, Seq("v"), Seq("v3").toDF("v"))
    }
    assert(e.getMessage.contains("unknown key column(s) v"), e.getMessage)
    assert(SnapshotTable.currentVersion(spark, root) === cur)
    assert(SnapshotTable.read(spark, root).count() === 31)
  }

  test("(k) null keys: eq delete null-safely suppresses null-keyed rows (Iceberg v2)") {
    val root = "/tmp/graft_test/eq_nullkey"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      Seq((Some(1L), "a"), (None, "nullrow1"), (None, "nullrow2"), (Some(2L), "b"))
        .toDF("k", "v"))
    // a CDC delete image with a null key column must suppress the
    // null-keyed rows — SQL join semantics would silently keep them
    val keys = Seq[Option[Long]](None, Some(2L)).toDF("k")
    SnapshotTable.deleteWhereEq(spark, root, Seq("k"), keys)
    val live = SnapshotTable.read(spark, root).select("v").as[String].collect().sorted
    assert(live.toSeq === Seq("a"), s"null == null for equality deletes, got ${live.mkString(",")}")
    // compaction folds the null-keyed suppression identically
    val vc = SnapshotTable.compactDeletes(spark, root)
    assert(SnapshotTable.eqDeleteEntries(spark, root, vc).isEmpty)
    val afterCompact = SnapshotTable.read(spark, root).select("v").as[String].collect().sorted
    assert(afterCompact.toSeq === Seq("a"))
    // and a later null-keyed row still survives the old delete (seq ordering)
    SnapshotTable.commit(spark, root, Seq((Option.empty[Long], "nullreborn")).toDF("k", "v"))
    assert(SnapshotTable.read(spark, root).count() === 2)
  }

  test("(l) CDC planning candidates prune by image min/max against file stats") {
    val root = "/tmp/graft_test/eq_cdcprune"
    SnapshotTable.drop(spark, root)
    // two commits with disjoint id ranges, stats registered on id
    SnapshotTable.commit(spark, root,
      spark.range(0, 100).select(col("id"), lit("lo").as("v")).repartition(2),
      statsCols = Seq("id"))
    SnapshotTable.commit(spark, root,
      spark.range(1000, 1100).select(col("id"), lit("hi").as("v")).repartition(2),
      statsCols = Seq("id"))
    val all = SnapshotTable.dataFiles(spark, root, 2)
    val loImages = spark.range(10, 20).select(col("id"), lit("lo").as("v"))
    val v2 = SnapshotTable.version(spark, root, 2)
    val cands = SnapshotTable.cdcPlanningCandidates(spark, root, 2, v2, loImages, all)
    assert(cands.nonEmpty && cands.size < all.size,
      s"images bounded to [10,20) must prune the 1000+ files: ${cands.size}/${all.size}")
    // a null image value on the stats column disables pruning (sound:
    // min/max is null-blind, <=> can match null rows)
    val withNull = loImages.unionByName(
      Seq((Option.empty[Long], "x")).toDF("id", "v"))
    assert(SnapshotTable.cdcPlanningCandidates(spark, root, 2, v2, withNull, all) === all)
    // end-to-end: applyChangesMor over the pruned plan stays exact
    val vA = SnapshotTable.applyChangesMor(spark, root,
      inserts = Seq((15L, "new")).toDF("id", "v"),
      deleteImages = spark.range(10, 20).select(col("id"), lit("lo").as("v")))
    assert(SnapshotTable.read(spark, root, vA).count() === 200 - 10 + 1)
    assert(SnapshotTable.read(spark, root, vA).where(col("id") === 15).count() === 1)
  }
}
