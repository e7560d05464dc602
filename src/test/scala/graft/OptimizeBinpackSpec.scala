package graft

import org.apache.spark.sql.functions.{col, expr}

import graft.lake.SnapshotTable

/** [[SnapshotTable.compactSmallFiles]] — bin-packing OPTIMIZE
  * (Iceberg `rewrite_data_files` binpack): only small files are
  * rewritten (right-sized files keep their exact bytes), packing is
  * per-partition-value on hidden-partitioned tables, delete-affected
  * files are excluded (that fold is compactDeletes' job), registered
  * stats (numeric and string) survive onto the packed outputs, and the publish rebases
  * over a concurrent append via the shared publishRewrite path.
  */
class OptimizeBinpackSpec extends SparkSpec {
  import spark.implicits._

  private def files(root: String): Seq[String] =
    SnapshotTable.dataFiles(spark, root, SnapshotTable.currentVersion(spark, root))

  test("packs small files into one output; the big file keeps its exact path") {
    val root = "/tmp/graft_test/opt_basic"
    SnapshotTable.drop(spark, root)
    // one right-sized file (~hundreds of KB of md5 hex), then 4 tiny ones
    SnapshotTable.commit(spark, root,
      spark.range(20000).select(col("id"), expr("md5(cast(id as string))").as("v"))
        .coalesce(1))
    val big = files(root).head
    SnapshotTable.commit(spark, root,
      spark.range(20000, 20020).select(col("id"), expr("md5(cast(id as string))").as("v"))
        .repartition(4))
    assert(files(root).size === 5)
    val v = SnapshotTable.compactSmallFiles(spark, root,
      smallBytes = 50000, targetBytes = 10L << 20)
    assert(v === 3)
    val after = files(root)
    assert(after.size === 2, s"big + one packed output, got ${after.size}")
    assert(after.map(SnapshotTable.canon(spark, _))
      .contains(SnapshotTable.canon(spark, big)),
      "the right-sized file must keep its exact bytes (same path)")
    assert(SnapshotTable.read(spark, root).count() === 20020)
    // nothing left to pack: second call is a no-op version-wise
    assert(SnapshotTable.compactSmallFiles(spark, root,
      smallBytes = 50000, targetBytes = 10L << 20) === 3)
  }

  test("hidden-partitioned table packs within each day and keeps partition annotations") {
    val root = "/tmp/graft_test/opt_part"
    SnapshotTable.drop(spark, root)
    val rows = (0 until 40).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        if (i % 2 == 0) "2024-01-01 10:00:00" else "2024-01-02 10:00:00"))
    }
    // explicit salt: this test wants the many-small-files shape to
    // compact (the adaptive default writes one file per day for a
    // batch this small)
    SnapshotTable.commitPartitionedByDay(spark, root, rows.toDF("id", "ts"), "ts",
      saltBuckets = 4)
    val before = SnapshotTable.version(spark, root, 1).dataEntries.map(e => (e.path, e.annots))
    assert(before.size > 2, "salted partitioned write must produce several files")
    val v = SnapshotTable.compactSmallFiles(spark, root,
      smallBytes = 1L << 20, targetBytes = 10L << 20)
    assert(v === 2)
    val after = SnapshotTable.version(spark, root, v).dataEntries.map(e => (e.path, e.annots))
    val byDay = after.groupBy(_._2.get("_graft_day"))
    assert(byDay.keySet === Set(Some("2024-01-01"), Some("2024-01-02")),
      s"every packed output must carry its day annotation, got ${byDay.keySet}")
    assert(byDay.forall(_._2.size === 1), "one packed file per day")
    assert(SnapshotTable.read(spark, root).count() === 40)
  }

  test("delete-affected files are excluded; eq-pending table is a no-op until folded") {
    val root = "/tmp/graft_test/opt_deletes"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      spark.range(100).select(col("id"), expr("cast(id as string)").as("v"))
        .repartition(4))
    // eq delete lands above every file's seq: nothing is eligible
    SnapshotTable.deleteWhereEq(spark, root, Seq("id"), Seq(5L).toDF("id"))
    assert(SnapshotTable.compactSmallFiles(spark, root,
      smallBytes = 1L << 20, targetBytes = 10L << 20) === 2,
      "files an eq delete still applies to must not be repacked")
    // folding the delete re-establishes eligibility
    SnapshotTable.compactDeletes(spark, root)
    val v = SnapshotTable.compactSmallFiles(spark, root,
      smallBytes = 1L << 20, targetBytes = 10L << 20)
    assert(v === 4)
    assert(files(root).size === 1)
    assert(SnapshotTable.read(spark, root).count() === 99)

    // positional-delete case: the named file survives verbatim
    val root2 = "/tmp/graft_test/opt_posdel"
    SnapshotTable.drop(spark, root2)
    SnapshotTable.commit(spark, root2,
      spark.range(100).select(col("id"), expr("cast(id as string)").as("v"))
        .repartition(4))
    SnapshotTable.deleteWhereMor(spark, root2, col("id") === 7)
    val named = spark.read
      .parquet(SnapshotTable.deleteFiles(spark, root2, 2): _*)
      .select("file_path").distinct().collect()
      .map(r => SnapshotTable.canon(spark, r.getString(0))).toSet
    val v2 = SnapshotTable.compactSmallFiles(spark, root2,
      smallBytes = 1L << 20, targetBytes = 10L << 20)
    assert(v2 === 3)
    val after2 = files(root2).map(SnapshotTable.canon(spark, _)).toSet
    assert(named.subsetOf(after2), "delete-named files keep their exact paths")
    assert(SnapshotTable.read(spark, root2).count() === 99,
      "the pending positional delete still applies after packing")
  }

  test("registered stats survive onto packed outputs") {
    val root = "/tmp/graft_test/opt_stats"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      spark.range(100).select(col("id"), expr("cast(id as string)").as("v"))
        .repartition(4),
      statsCols = Seq("id"))
    val v = SnapshotTable.compactSmallFiles(spark, root,
      smallBytes = 1L << 20, targetBytes = 10L << 20)
    assert(v === 2)
    val annots = SnapshotTable.version(spark, root, v).dataEntries.map(e => (e.path, e.annots))
    assert(annots.size === 1)
    assert(annots.head._2.contains("_min_id") && annots.head._2.contains("_max_id"),
      s"packed output must be re-annotated with registered stats, got ${annots.head._2}")
  }

  test("string-stats files pack and keep their bounds") {
    // per-file string bounds must not split small files into one
    // packing group each
    val root = "/tmp/graft_test/opt_string_stats"
    SnapshotTable.drop(spark, root)
    (0 until 3).foreach { i =>
      SnapshotTable.commit(spark, root,
        spark.range(i * 100, i * 100 + 100)
          .select(col("id"), expr("cast(id as string)").as("v")).coalesce(1),
        statsCols = Seq("v"))
    }
    assert(files(root).size === 3)
    val v = SnapshotTable.compactSmallFiles(spark, root,
      smallBytes = 1L << 20, targetBytes = 10L << 20)
    assert(v === 4, "three small string-stats files must pack")
    val annots = SnapshotTable.version(spark, root, v).dataEntries.map(_.annots)
    assert(annots.size === 1)
    assert(annots.head.contains("_smin_v") && annots.head.contains("_smax_v"),
      s"packed output must be re-annotated with registered stats, got ${annots.head}")
    assert(SnapshotTable.read(spark, root).count() === 300)
  }

  test("unannotated files of a day table pack by day and never into more files") {
    // files registered zero-copy name no day; the writer splits their
    // pack back into days, so the pack must count its per-day outputs
    def rows(days: Range, tag: String) = days.flatMap(d => (0 until 4).map(i =>
      (d * 10L + i, s"$tag$d", java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00"))))
      .toDF("id", "v", "ts")
    def stagedTable(root: String, days: Range, nFiles: Int): Unit = {
      SnapshotTable.drop(spark, root)
      SnapshotTable.commitPartitionedByDay(spark, root, rows(days.take(1), "p"), "ts")
      (0 until nFiles).foreach { i =>
        val dir = s"$root/staged/s$i"
        rows(days, s"s$i").coalesce(1).write.mode("overwrite").parquet(dir)
        val p = new org.apache.hadoop.fs.Path(dir)
        SnapshotTable.commitFiles(spark, root, p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listStatus(p).map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq)
      }
    }
    def compact(root: String) = SnapshotTable.compactSmallFiles(spark, root,
      smallBytes = 1L << 20, targetBytes = 10L << 20)

    // three files over 30 days would pack into 30: no commit
    val wide = "/tmp/graft_test/opt_unannotated_wide"
    stagedTable(wide, 1 to 30, 3)
    val before = files(wide).size
    val cur = SnapshotTable.currentVersion(spark, wide)
    assert(compact(wide) === cur, "a pack into more files than it removes must not commit")
    assert(files(wide).size === before)

    // four files over two days pack into one file per day
    val narrow = "/tmp/graft_test/opt_unannotated_narrow"
    stagedTable(narrow, 1 to 2, 4)
    val prev = SnapshotTable.currentVersion(spark, narrow)
    val v = compact(narrow)
    assert(v === prev + 1 && files(narrow).size === 3,
      s"the day file, and the four staged files packed per day, got ${files(narrow)}")
    val days = SnapshotTable.version(spark, narrow, v).dataEntries.map(_.annots.get("_graft_day"))
    assert(days.sorted === Seq(Some("2024-01-01"), Some("2024-01-01"), Some("2024-01-02")))
    assert(SnapshotTable.read(spark, narrow).count() === 4 + 4 * 8)
  }

  test("sort-ordered pack restores clustering: per-file key ranges are disjoint") {
    val root = "/tmp/graft_test/opt_sorted"
    SnapshotTable.drop(spark, root)
    // interleaved commits: every file spans nearly the full id range,
    // so the pre-pack min/max stats are useless for pruning
    (0 until 4).foreach { m =>
      SnapshotTable.commit(spark, root,
        spark.range(1000).filter(col("id") % 4 === m)
          .select(col("id"), expr("cast(id as string)").as("v")).repartition(2),
        statsCols = Seq("id"))
    }
    val v = SnapshotTable.compactSmallFiles(spark, root,
      smallBytes = 1L << 20, targetBytes = 10000, sortCols = Seq("id"))
    assert(v === 5)
    val ranges = SnapshotTable.version(spark, root, v).dataEntries.map(e => (e.path, e.annots))
      .map { case (_, a) => (a("_min_id").toDouble, a("_max_id").toDouble) }
      .sortBy(_._1)
    assert(ranges.size >= 2, s"target size must force 2+ packed outputs, got $ranges")
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"sorted pack must yield disjoint per-file ranges, got $ranges")
      case _ => ()
    }
    assert(SnapshotTable.read(spark, root).count() === 1000)
  }

  test("publish rebases over a concurrent append") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftmseam.impl", classOf[ManifestSeamFs].getName)
    val root = "graftmseam:///tmp/graft_test/opt_rebase"
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root,
      spark.range(100).select(col("id"), expr("cast(id as string)").as("v"))
        .repartition(4))
    ManifestSeamFs.armOnce { () =>
      SnapshotTable.commit(spark, root,
        Seq((999L, "late")).toDF("id", "v"))
    }
    val v =
      try SnapshotTable.compactSmallFiles(spark, root,
        smallBytes = 1L << 20, targetBytes = 10L << 20)
      finally ManifestSeamFs.disarm()
    assert(v === 3, "append landed on v2's successor; optimize rebased to v3")
    assert(SnapshotTable.read(spark, root).count() === 101,
      "packed rows + the concurrently appended row")
  }
}
