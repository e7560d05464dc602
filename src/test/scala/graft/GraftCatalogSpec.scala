package graft

import org.apache.spark.sql.functions._

import graft.lake.SnapshotTable
import graft.streaming.GraftSnapshotRelation

/** [[graft.sources.GraftCatalog]] — the DataSourceV2 catalog that
  * gives snapshot tables PLAIN SQL time travel (`VERSION AS OF` /
  * `TIMESTAMP AS OF`), DDL (CREATE/DROP/SHOW), INSERT, and
  * manifest-pruned reads through the V1Scan shim.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val wh = "/tmp/graft_test/v2cat_wh"

  private def enable(): Unit = {
    spark.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
  }

  test("CREATE / INSERT / SELECT / DROP through the catalog") {
    enable()
    SnapshotTable.drop(spark, s"$wh/lake/t1")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.lake")
    spark.sql("DROP TABLE IF EXISTS gcat.lake.t1")
    spark.sql("CREATE TABLE gcat.lake.t1 (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gcat.lake.t1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gcat.lake.t1 VALUES (3, 'c')")
    assert(spark.sql("SELECT * FROM gcat.lake.t1").count() === 3)
    // the SQL inserts are REAL engine commits: empty v1 + two appends
    assert(SnapshotTable.currentVersion(spark, s"$wh/lake/t1") === 3)
    spark.sql("INSERT OVERWRITE gcat.lake.t1 VALUES (9, 'z')")
    assert(spark.sql("SELECT * FROM gcat.lake.t1").as[(Long, String)]
      .collect().toSeq === Seq((9L, "z")))
    assert(spark.sql("SHOW TABLES IN gcat.lake").collect()
      .map(_.getString(1)).contains("t1"))
    spark.sql("DROP TABLE gcat.lake.t1")
    assert(SnapshotTable.currentVersion(spark, s"$wh/lake/t1") === 0,
      "managed drop removes the data")
  }

  test("VERSION AS OF and TIMESTAMP AS OF in plain SQL") {
    enable()
    val root = s"$wh/lake/tt"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 50).map(k => (k.toLong, s"r$k")).toDF("id", "v"))
    val t1 = SnapshotTable.version(spark, root, 1).committedAt
    SnapshotTable.commitAppend(spark, root,
      (50 until 80).map(k => (k.toLong, s"r$k")).toDF("id", "v"))
    SnapshotTable.deleteWhere(spark, root, col("id") < 10)
    assert(spark.sql("SELECT count(*) AS n FROM gcat.lake.tt").head.getLong(0) === 70)
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcat.lake.tt VERSION AS OF 1").head.getLong(0) === 50)
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcat.lake.tt VERSION AS OF 2").head.getLong(0) === 80)
    val ts = new java.sql.Timestamp(t1).toString
    assert(spark.sql(
      s"SELECT count(*) AS n FROM gcat.lake.tt TIMESTAMP AS OF '$ts'")
      .head.getLong(0) === 50)
    // a write to a time-traveled relation must refuse
    intercept[Exception] {
      spark.sql("INSERT INTO gcat.lake.tt VERSION AS OF 1 VALUES (999, 'x')")
    }
  }

  test("pushed filters reach the manifest prune through the V2 scan") {
    enable()
    val root = s"$wh/lake/pruned"
    SnapshotTable.drop(spark, root)
    (0 until 4).foreach { i =>
      SnapshotTable.commit(spark, root,
        (i * 100 until (i + 1) * 100).map(k => (k.toLong, s"r$k")).toDF("id", "v")
          .coalesce(1),
        statsCols = Seq("id"))
    }
    GraftSnapshotRelation.recordScans = true
    try {
      val rows = spark.sql(
        "SELECT v FROM gcat.lake.pruned WHERE id = 250").collect()
      assert(rows.map(_.getString(0)).toSeq === Seq("r250"))
    } finally GraftSnapshotRelation.recordScans = false
    assert(GraftSnapshotRelation.lastScanFilesFor(root) === 1,
      "the V2 scan must open 1 of 4 files for a stats-pruned point lookup")
    // column pruning reaches the scan: only v + the filter column
    val plan = spark.sql("SELECT v FROM gcat.lake.pruned WHERE id = 250")
      .queryExecution.executedPlan.toString
    assert(plan.contains("RowDataSourceScan") || plan.contains("Scan"),
      s"expected a V1-shim scan in: $plan")
  }

  test("LOCATION registers an existing table; DROP keeps external data") {
    enable()
    val ext = "/tmp/graft_test/v2cat_external"
    SnapshotTable.drop(spark, ext)
    SnapshotTable.commit(spark, ext, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.ext")
    spark.sql("DROP TABLE IF EXISTS gcat.ext.reg")
    spark.sql(s"CREATE TABLE gcat.ext.reg (id BIGINT, v STRING) LOCATION '$ext'")
    assert(spark.sql("SELECT count(*) AS n FROM gcat.ext.reg").head.getLong(0) === 2)
    spark.sql("DROP TABLE gcat.ext.reg")
    assert(SnapshotTable.currentVersion(spark, ext) === 1,
      "external drop unregisters but keeps the data")
    assert(SnapshotTable.read(spark, ext).count() === 2)
  }

  test("DELETE FROM in plain SQL rides the engine row-level delete") {
    enable()
    val root = s"$wh/lake/sqldel"
    SnapshotTable.drop(spark, root)
    (0 until 4).foreach { i =>
      SnapshotTable.commit(spark, root,
        (i * 25 until (i + 1) * 25).map(k => (k.toLong, s"r$k")).toDF("id", "v")
          .coalesce(1), statsCols = Seq("id"))
    }
    spark.sql("DELETE FROM gcat.lake.sqldel WHERE id >= 90")
    assert(spark.sql("SELECT count(*) AS n FROM gcat.lake.sqldel").head.getLong(0) === 90)
    // a REAL versioned commit: time travel still sees the pre-delete rows
    assert(SnapshotTable.currentVersion(spark, root) === 5)
    assert(spark.sql(
      "SELECT count(*) AS n FROM gcat.lake.sqldel VERSION AS OF 4").head.getLong(0) === 100)
    // NULL-predicate rows stay (SQL DELETE semantics through the engine)
    spark.sql("DELETE FROM gcat.lake.sqldel WHERE id < 5 AND v IS NOT NULL")
    assert(spark.sql("SELECT count(*) AS n FROM gcat.lake.sqldel").head.getLong(0) === 85)
  }

  test("UPDATE in plain SQL: group-based copy-on-write rewrite") {
    enable()
    val root = s"$wh/lake/sqlupd"
    SnapshotTable.drop(spark, root)
    (0 until 4).foreach { i =>
      SnapshotTable.commit(spark, root,
        (i * 25 until (i + 1) * 25).map(k => (k.toLong, s"r$k", k * 1.0))
          .toDF("id", "v", "w").coalesce(1), statsCols = Seq("id"))
    }
    spark.sql("UPDATE gcat.lake.sqlupd SET w = w * 10 WHERE id BETWEEN 30 AND 34")
    val got = spark.sql(
      "SELECT id, w FROM gcat.lake.sqlupd WHERE id IN (29, 30, 34, 35) ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((29L, 29.0), (30L, 300.0), (34L, 340.0), (35L, 35.0)))
    assert(spark.sql("SELECT count(*) AS n FROM gcat.lake.sqlupd").head.getLong(0) === 100)
    // versioned: pre-update values still readable
    val cur = SnapshotTable.currentVersion(spark, root)
    assert(spark.sql(
      s"SELECT w FROM gcat.lake.sqlupd VERSION AS OF ${cur - 1} WHERE id = 30")
      .head.getDouble(0) === 30.0)
    // stats pruning bounded the rewrite: only the file holding ids
    // 25..49 was replaced; the other three survive by reference
    val before = SnapshotTable.dataFiles(spark, root, cur - 1).toSet
    val after = SnapshotTable.dataFiles(spark, root, cur).toSet
    assert((before -- after).size === 1,
      s"expected exactly 1 file rewritten, got ${(before -- after).size}")
  }

  test("MERGE INTO in plain SQL: matched update + not-matched insert") {
    enable()
    val root = s"$wh/lake/sqlmrg"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 10).map(k => (k.toLong, s"old$k")).toDF("id", "v"))
    Seq((8L, "new8"), (9L, "new9"), (10L, "new10"), (11L, "new11"))
      .toDF("id", "v").createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO gcat.lake.sqlmrg t USING mrg_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val got = spark.sql("SELECT id, v FROM gcat.lake.sqlmrg ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got.size === 12)
    assert(got.filter(_._1 >= 8L).map(_._2) === Seq("new8", "new9", "new10", "new11"))
    assert(got.head === (0L, "old0"))
  }

  test("SQL row-level ops refuse tables the raw-file scan cannot express") {
    enable()
    val root = s"$wh/lake/sqlblocked"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 10).map(k => (k.toLong, s"r$k")).toDF("id", "v"))
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 1L)
    val e = intercept[Exception] {
      spark.sql("UPDATE gcat.lake.sqlblocked SET v = 'x' WHERE id = 2")
    }
    assert(e.getMessage != null && e.getMessage.contains("merge-on-read"),
      s"expected the MoR blocker message, got: ${e.getMessage}")
    // translatable DELETE still works — the metadata route reads
    // through the logical view and handles pending MoR deletes
    spark.sql("DELETE FROM gcat.lake.sqlblocked WHERE id = 2")
    assert(spark.sql("SELECT count(*) AS n FROM gcat.lake.sqlblocked")
      .head.getLong(0) === 8)
  }

  test("ALTER TABLE: RENAME / ADD / widen type are metadata-only commits") {
    enable()
    val root = s"$wh/lake/sqlalter"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 10).map(k => (k, s"r$k")).toDF("id", "v"))
    val files1 = SnapshotTable.dataFiles(spark, root, 1).toSet
    spark.sql("ALTER TABLE gcat.lake.sqlalter RENAME COLUMN v TO label")
    spark.sql("ALTER TABLE gcat.lake.sqlalter ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE gcat.lake.sqlalter ADD COLUMN score DOUBLE")
    val df = spark.sql("SELECT id, label, score FROM gcat.lake.sqlalter ORDER BY id")
    assert(df.schema("id").dataType === org.apache.spark.sql.types.LongType)
    assert(df.schema("score").dataType === org.apache.spark.sql.types.DoubleType)
    val rows = df.collect()
    assert(rows.length === 10 && rows.forall(_.isNullAt(2)))
    assert(rows.head.getString(1) === "r0")
    // three evolutions, zero files rewritten
    val cur = SnapshotTable.currentVersion(spark, root)
    assert(cur === 4)
    assert(SnapshotTable.dataFiles(spark, root, cur).toSet === files1,
      "ALTER TABLE must not rewrite data files")
    // appends carry the new column; old files read as NULL beside them
    spark.sql("INSERT INTO gcat.lake.sqlalter VALUES (99, 'x', 1.5)")
    val merged = spark.sql(
      "SELECT label, score FROM gcat.lake.sqlalter WHERE id IN (0, 99) ORDER BY id")
      .collect()
    assert(merged(0).isNullAt(1) && merged(1).getDouble(1) === 1.5)
    // time travel predates the evolution: old names, no new column
    val v1 = spark.sql("SELECT * FROM gcat.lake.sqlalter VERSION AS OF 1")
    assert(v1.columns.toSeq === Seq("id", "v"))
  }

  test("ALTER TABLE widens decimal(10,2) to decimal(12,2) and the table stays readable") {
    enable()
    val root = s"$wh/lake/sqldecimal"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1, "1.25"), (2, "-3.50")).toDF("id", "d")
      .select(col("id"), col("d").cast("decimal(10,2)").as("d")))
    spark.sql("ALTER TABLE gcat.lake.sqldecimal ALTER COLUMN d TYPE DECIMAL(12,2)")
    val df = spark.sql("SELECT id, d FROM gcat.lake.sqldecimal ORDER BY id")
    assert(df.schema("d").dataType === org.apache.spark.sql.types.DecimalType(12, 2))
    assert(df.collect().map(r => (r.getInt(0), r.getDecimal(1).toPlainString)).toSeq ===
      Seq((1, "1.25"), (2, "-3.50")))
  }

  test("MoR deletes and renames serve through the catalog read") {
    enable()
    val root = s"$wh/lake/morv2"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 20).map(k => (k.toLong, s"r$k")).toDF("id", "v"))
    SnapshotTable.deleteWhereMor(spark, root, col("id") === 3L)
    SnapshotTable.renameColumn(spark, root, "v", "label")
    val got = spark.sql("SELECT id, label FROM gcat.lake.morv2 ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got.size === 19 && !got.exists(_._1 == 3L) && got.head._2 === "r0")
  }

  test("multi-change ALTER is atomic: any invalid change commits nothing") {
    enable()
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val root = s"$wh/lake/alteratomic"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[graft.sources.GraftCatalog]
    val ident = Identifier.of(Array("lake"), "alteratomic")
    val v0 = SnapshotTable.currentVersion(spark, root)
    def unchanged(clue: String): Unit = {
      assert(SnapshotTable.currentVersion(spark, root) === v0,
        s"$clue: a failed multi-change ALTER must not half-commit")
      assert(SnapshotTable.read(spark, root).columns.toSeq === Seq("id", "v"), clue)
    }
    // a VALID rename followed by an invalid narrowing: the rename
    // must not land (validation happens for all changes before any commit)
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        TableChange.renameColumn(Array("v"), "label"),
        TableChange.updateColumnType(Array("id"), IntegerType))
    }
    unchanged("rename+narrow")
    // ADD colliding with an existing column
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        TableChange.updateColumnType(Array("id"), LongType),
        TableChange.addColumn(Array("v"), StringType))
    }
    unchanged("widen+add-existing")
    // rename whose source does not exist
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        TableChange.addColumn(Array("w"), StringType),
        TableChange.renameColumn(Array("nope"), "x"))
    }
    unchanged("add+rename-missing")
    // rename v->w then ADD COLUMN v in ONE call: logical v is free but
    // physical v is still in use by w — appends would write duplicate
    // file columns, so validation must reject before any commit
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        TableChange.renameColumn(Array("v"), "w"),
        TableChange.addColumn(Array("v"), StringType))
    }
    unchanged("rename-then-add-same-name")
    // the same sequence as TWO calls: the second must fail at the
    // engine layer too (SnapshotTable.addColumn physical-name check)
    cat.alterTable(ident, TableChange.renameColumn(Array("v"), "w"))
    intercept[IllegalArgumentException] {
      cat.alterTable(ident, TableChange.addColumn(Array("v"), StringType))
    }
    assert(SnapshotTable.read(spark, root).columns.toSeq === Seq("id", "w"))
    // a fully valid multi-change still lands as its per-change commits
    cat.alterTable(ident,
      TableChange.renameColumn(Array("w"), "label"),
      TableChange.addColumn(Array("score"), org.apache.spark.sql.types.DoubleType))
    assert(SnapshotTable.read(spark, root).columns.toSeq
      === Seq("id", "label", "score"))
  }
}
