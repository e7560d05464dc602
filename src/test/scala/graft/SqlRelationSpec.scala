package graft

import org.apache.spark.sql.functions.col

import graft.lake.SnapshotTable
import graft.streaming.GraftSnapshotRelation

/** Batch face of `format("graft-snapshot")`
  * ([[GraftSnapshotRelation]]): lake tables queryable through
  * `spark.read` and plain SQL with pushed filters driving the
  * manifest file skip, merge-on-read deletes applied, and time travel
  * via options — the Trino-over-Iceberg query surface as a native
  * Spark relation.
  */
class SqlRelationSpec extends SparkSpec {
  import spark.implicits._

  private def load(root: String, opts: (String, String)*) = {
    val r = spark.read.format("graft-snapshot").option("path", root)
    opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  test("batch load equals the engine read; MoR deletes applied") {
    val root = "/tmp/graft_test/rel_basic"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 100).map(k => (k.toLong, s"r$k")).toDF("id", "v"))
    SnapshotTable.deleteWhereMor(spark, root, col("id") < 10)
    val got = load(root).as[(Long, String)].collect().sorted.toSeq
    assert(got === (10 until 100).map(k => (k.toLong, s"r$k")))
  }

  private def recordingScans[A](body: => A): A = {
    GraftSnapshotRelation.recordScans = true
    try body finally GraftSnapshotRelation.recordScans = false
  }

  test("pushed filter reaches the manifest prune (stats skipping)") {
    val root = "/tmp/graft_test/rel_prune"
    SnapshotTable.drop(spark, root)
    // 4 commits with disjoint id ranges, stats on id: an id point
    // filter must open ONE file
    (0 until 4).foreach { i =>
      SnapshotTable.commit(spark, root,
        (i * 100 until (i + 1) * 100).map(k => (k.toLong, s"r$k")).toDF("id", "v")
          .coalesce(1),
        statsCols = Seq("id"))
    }
    val total = SnapshotTable.dataFiles(spark, root, 4).size
    assert(total === 4)
    val rows = recordingScans { load(root).filter(col("id") === 250L).collect() }
    assert(rows.length === 1 && rows.head.getString(1) === "r250")
    assert(GraftSnapshotRelation.lastScanFilesFor(root) === 1,
      s"a stats-pruned point lookup must open 1 of $total files, " +
        s"opened ${GraftSnapshotRelation.lastScanFilesFor(root)}")
  }

  test("SQL end-to-end through a USING-registered view, filters pushed") {
    val root = "/tmp/graft_test/rel_sql"
    SnapshotTable.drop(spark, root)
    (0 until 4).foreach { i =>
      SnapshotTable.commit(spark, root,
        (i * 100 until (i + 1) * 100).map(k => (k.toLong, s"r$k")).toDF("id", "v")
          .coalesce(1),
        statsCols = Seq("id"))
    }
    spark.sql("DROP TABLE IF EXISTS rel_sql_lake")
    spark.sql(
      s"CREATE TABLE rel_sql_lake USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      val n = recordingScans { spark.sql(
        "SELECT count(*) AS n FROM rel_sql_lake WHERE id >= 300").head.getLong(0) }
      assert(n === 100)
      assert(GraftSnapshotRelation.lastScanFilesFor(root) === 1,
        "the SQL range filter must prune to the one matching file")
    } finally spark.sql("DROP TABLE IF EXISTS rel_sql_lake")
  }

  test("filter translation: Not of a partially-translatable And is NOT pushed") {
    import org.apache.spark.sql.sources._
    // an untranslatable shape under Not must kill the whole Not: the
    // naive rewrite Not(And(a, b)) → Not(a) is a STRONGER predicate
    // than the original and would prune files holding matching rows
    // a shape translate() has no case for — collation-aware
    // comparisons need collation semantics the engine's pruning
    // doesn't model (AlwaysTrue used to serve here until DELETE FROM
    // support made it translatable)
    val untranslatable: Filter = CollatedEqualTo("v", "x",
      org.apache.spark.sql.types.StringType)
    assert(GraftSnapshotRelation.toColumn(
      Not(And(EqualTo("id", 1L), untranslatable))).isEmpty)
    assert(GraftSnapshotRelation.toColumn(
      Not(Or(And(EqualTo("id", 1L), untranslatable), EqualTo("id", 2L)))).isEmpty)
    // exact children still negate fine, nested or not
    assert(GraftSnapshotRelation.toColumn(
      Not(And(EqualTo("id", 1L), GreaterThan("id", 0L)))).nonEmpty)
    assert(GraftSnapshotRelation.toColumn(Not(EqualTo("id", 1L))).nonEmpty)
    // And keeps whichever side translates when NOT under a Not
    assert(GraftSnapshotRelation.toColumn(
      And(EqualTo("id", 1L), untranslatable)).nonEmpty)
    // end-to-end: a NOT predicate still answers correctly
    val root = "/tmp/graft_test/rel_not"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 100).map(k => (k.toLong, s"r$k")).toDF("id", "v"))
    assert(load(root).filter("NOT (id >= 10 AND id < 90)").count() === 20)
  }

  test("time travel via version and timestamp_ms options") {
    val root = "/tmp/graft_test/rel_tt"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    val t1 = SnapshotTable.version(spark, root, 1).committedAt
    SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("id", "v"))
    assert(load(root).count() === 2)
    assert(load(root, "version" -> "1").count() === 1)
    assert(load(root, "timestamp_ms" -> t1.toString).count() === 1)
  }

  test("renamed-column table serves the logical schema") {
    val root = "/tmp/graft_test/rel_rename"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    SnapshotTable.renameColumn(spark, root, "v", "label")
    val df = load(root)
    assert(df.columns.toSeq === Seq("id", "label"))
    assert(df.filter(col("label") === "a").count() === 1)
  }

  test("write path: SaveModes map to engine commits, history intact") {
    val root = "/tmp/graft_test/rel_write"
    SnapshotTable.drop(spark, root)
    def w(df: org.apache.spark.sql.DataFrame, mode: String) =
      df.write.format("graft-snapshot").option("path", root).mode(mode).save()
    w(Seq((1L, "a")).toDF("id", "v"), "append")
    w(Seq((2L, "b")).toDF("id", "v"), "append")
    assert(SnapshotTable.currentVersion(spark, root) === 2)
    assert(load(root).count() === 2)
    w(Seq((9L, "z")).toDF("id", "v"), "overwrite")
    assert(load(root).as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    // overwrite is a SNAPSHOT, not an erase: v2 still time-travels
    assert(load(root, "version" -> "2").count() === 2)
    intercept[IllegalStateException] {
      w(Seq((0L, "x")).toDF("id", "v"), "errorifexists")
    }
    w(Seq((0L, "x")).toDF("id", "v"), "ignore") // existing table: no-op
    assert(load(root).count() === 1)
  }

  test("SQL INSERT INTO / INSERT OVERWRITE through a registered lake table") {
    val root = "/tmp/graft_test/rel_insert"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"))
    spark.sql("DROP TABLE IF EXISTS rel_ins_lake")
    spark.sql(s"CREATE TABLE rel_ins_lake USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      spark.sql("INSERT INTO rel_ins_lake VALUES (2, 'b'), (3, 'c')")
      assert(spark.table("rel_ins_lake").count() === 3)
      assert(SnapshotTable.read(spark, root).count() === 3,
        "the SQL insert must be a real engine commit")
      spark.sql("INSERT OVERWRITE rel_ins_lake VALUES (7, 'q')")
      assert(spark.table("rel_ins_lake").as[(Long, String)].collect().toSeq ===
        Seq((7L, "q")))
      assert(SnapshotTable.read(spark, root, version = 2).count() === 3,
        "overwrite keeps history")
    } finally spark.sql("DROP TABLE IF EXISTS rel_ins_lake")
  }

  test("metadata inspection tables: files and history off the manifest") {
    val root = "/tmp/graft_test/rel_meta"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 40).map(k => (k.toLong, s"r$k")).toDF("id", "v").repartition(4))
    SnapshotTable.commitAppend(spark, root,
      (40 until 50).map(k => (k.toLong, s"r$k")).toDF("id", "v").coalesce(1))
    val files = load(root, "metadata" -> "files")
    assert(files.columns.toSeq === Seq("file", "rows", "size", "seq", "partition"))
    assert(files.count() === 5)
    assert(files.agg(org.apache.spark.sql.functions.sum("rows")).head.getLong(0) === 50)
    // size = Iceberg's file_size_in_bytes, straight off the _bytes
    // annotation — and it matches the files actually on disk
    val diskTotal = SnapshotTable.dataFiles(spark, root, 2).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum
    assert(files.agg(org.apache.spark.sql.functions.sum("size")).head.getLong(0) === diskTotal)
    assert(files.select("seq").distinct().as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    val hist = load(root, "metadata" -> "history")
    assert(hist.columns.toSeq === Seq("version", "committed_at", "op", "n_rows"))
    assert(hist.select("version", "n_rows").as[(Long, Long)].collect().sorted.toSeq ===
      Seq((1L, 40L), (2L, 50L)))
    // partitioned table: the day annotation surfaces per file
    val root2 = "/tmp/graft_test/rel_meta_part"
    SnapshotTable.drop(spark, root2)
    SnapshotTable.commitPartitionedByDay(spark, root2, Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"))).toDF("id", "ts"), "ts")
    val parts = load(root2, "metadata" -> "files")
      .select("partition").as[String].collect().toSet
    assert(parts === Set("_graft_day=2024-01-01", "_graft_day=2024-01-02"))
    // string stats are bounds, never partition values: a stats column
    // adds nothing to `partition`, partitioned or not
    val root3 = "/tmp/graft_test/rel_meta_sstats_part"
    SnapshotTable.drop(spark, root3)
    def named(id: Long, day: String) =
      (id, java.sql.Timestamp.valueOf(s"$day 10:00:00"), s"n$id")
    SnapshotTable.commitPartitionedByDay(spark, root3,
      Seq(named(1L, "2024-01-01")).toDF("id", "ts", "name"), "ts")
    SnapshotTable.commit(spark, root3, Seq(named(2L, "2024-01-02")).toDF("id", "ts", "name"),
      statsCols = Seq("name"))
    val parts2 = load(root3, "metadata" -> "files").select("partition").as[String].collect()
    assert(parts2.sorted.toSeq === Seq("_graft_day=2024-01-01", "_graft_day=2024-01-02"))
    val root4 = "/tmp/graft_test/rel_meta_sstats"
    SnapshotTable.drop(spark, root4)
    SnapshotTable.commit(spark, root4, Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      statsCols = Seq("name"))
    val parts3 = load(root4, "metadata" -> "files").select("partition").as[String].collect()
    assert(parts3.nonEmpty && parts3.forall(_ == null), parts3.mkString(", "))
  }

  test("untranslatable filter shapes still answer correctly (no pruning, Spark re-filters)") {
    val root = "/tmp/graft_test/rel_residual"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      (0 until 100).map(k => (k.toLong, s"r$k")).toDF("id", "v"))
    // modulo is not a source Filter shape at all — it must simply work
    val n = load(root).filter("id % 7 = 0").count()
    assert(n === (0 until 100).count(_ % 7 == 0))
  }
}
