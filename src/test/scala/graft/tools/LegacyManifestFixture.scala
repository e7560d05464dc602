package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.TimestampType

import graft.GraftSession
import graft.lake.{Manifest, SnapshotTable}

/** Writes the manifest fixture `ManifestCodecSpec` reads back: a
  * day-partitioned table `<dir>/t` and its clone `<dir>/c`, built by
  * one fixed sequence of 27 ops (every commit kind: day-partitioned,
  * append and overwrite commits, commitAppend, commitFiles, MoR delete
  * and update, equality upsert and delete, CDC apply, delete-file
  * consolidation, compactDeletes, copy-on-write delete, compaction,
  * properties, add/widen/rename/drop column, branch commit and
  * publish, rollback, clone), then `<dir>/expected.tsv`: every
  * version's typed header facts, schema and sorted rows as this build
  * reads them ([[describe]]). A table property holds a space and a
  * `+`, and a column is renamed to a name holding `%`. With
  * `--expected-only` it writes `expected.tsv` alone, for tables already
  * in place.
  *
  * The committed fixture was written by commit e224c69, the last whose
  * manifests carry no header format marker, from a checkout of that
  * commit (e.g. `git archive e224c69`):
  * {{{
  * sbt "Test/runMain graft.tools.LegacyManifestFixture /tmp/graft_test/legacy_manifests"
  * }}}
  * then copied without `.crc` files to
  * `src/test/fixtures/legacy_manifests`. Manifests hold absolute
  * paths, so the spec reads it back at the same directory. Later builds
  * write marked manifests, so on them only `--expected-only` applies:
  * it rewrites `expected.tsv` for the tables already in place.
  */
object LegacyManifestFixture {
  val Dir = "/tmp/graft_test/legacy_manifests"

  private val Days = Seq("2024-03-01", "2024-03-02", "2024-03-03")

  private def rows(s: SparkSession, ids: Seq[Int], tag: String = "n"): DataFrame = {
    import s.implicits._
    ids.map { i =>
      (i.toLong, s"$tag$i", java.sql.Timestamp.valueOf(s"${Days(i % 3)} 10:00:00"), s"u$i")
    }.toDF("id", "name", "ts", "user")
  }

  /** Every version stem of `root`, main versions first. */
  def stems(s: SparkSession, root: String): Seq[String] =
    Manifest.listing(s.sparkContext.hadoopConfiguration, root).toSeq
      .flatMap(_.stems).sortBy(st => (st.contains("."), st.length, st))

  /** One line per typed header fact of version `stem` of `root` and,
    * for main versions, its schema and rows.
    */
  def describe(s: SparkSession, table: String, root: String, stem: String): Seq[String] = {
    val mv = Manifest.at(s.sparkContext.hadoopConfiguration, root, stem)
    def m[V](x: Map[String, V]) = x.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString("[", "|", "]")
    val facts = Seq(
      "colmap" -> m(mv.columnMapping), "coltypes" -> m(mv.columnTypes),
      "fieldids" -> m(mv.storedFieldIds), "dropped" -> m(mv.droppedColumns),
      "tblprops" -> m(mv.properties), "partition" -> mv.partitionSource.toString,
      "statscols" -> mv.statsColumns.mkString("[", "|", "]"),
      "bloomcols" -> mv.bloomColumns.mkString("[", "|", "]"),
      "committed_at" -> mv.committedAt.toString,
      "files" -> mv.entries.map(_.line).sorted.mkString("[", "|", "]"))
    val data = stem match {
      case VersionStem(v) =>
        val df = SnapshotTable.read(s, root, v.toInt)
        // rendered independently of session settings (java8API, zone)
        val cells = df.schema.fields.map { f =>
          val c = col(s"`${f.name}`")
          (if (f.dataType == TimestampType) unix_micros(c) else c).cast("string")
        }
        Seq("schema" -> df.schema.toDDL) ++
          df.select(cells: _*).collect().map(r => "row" -> r.mkString("[", ",", "]")).sorted.toSeq
      case _ => Nil
    }
    (facts ++ data).map { case (k, v) => s"$table\t$stem\t$k\t$v" }
  }

  private val VersionStem = "v(\\d+)".r

  def main(args: Array[String]): Unit = {
    val dir = args.find(!_.startsWith("--")).getOrElse(Dir)
    val s = GraftSession.build(4)
    val t = s"$dir/t"
    val c = s"$dir/c"
    if (!args.contains("--expected-only")) ops(s, dir, t, c)
    val lines = Seq("t" -> t, "c" -> c).flatMap { case (name, root) =>
      stems(s, root).flatMap(describe(s, name, root, _))
    }
    val out = java.nio.file.Paths.get(s"$dir/expected.tsv")
    java.nio.file.Files.write(out, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"FIXTURE wrote ${lines.size} lines to $out")
    s.stop()
  }

  private def ops(s: SparkSession, dir: String, t: String, c: String): Unit = {
    SnapshotTable.drop(s, t)
    SnapshotTable.drop(s, c)
    val ops = Seq[(String, () => Int)](
      "commitPartitionedByDay" -> (() =>
        SnapshotTable.commitPartitionedByDay(s, t, rows(s, 1 to 30), "ts")),
      "commit" -> (() => SnapshotTable.commit(s, t, rows(s, 31 to 45),
        statsCols = Seq("id", "name"), bloomCols = Seq("user"))),
      "commitAppend" -> (() => SnapshotTable.commitAppend(s, t, rows(s, 46 to 50))),
      "deleteWhereMor" -> (() => SnapshotTable.deleteWhereMor(s, t, col("id") === 3)),
      "updateWhereMor" -> (() => SnapshotTable.updateWhereMor(s, t, col("id") === 10,
        Map("name" -> lit("updated")))),
      "upsertEq" -> (() => SnapshotTable.upsertEq(s, t, Seq("id"), rows(s, 1 to 5, "up"))),
      "deleteWhereEq" -> (() => SnapshotTable.deleteWhereEq(s, t, Seq("id"),
        rows(s, Seq(7)).select("id"))),
      "applyChangesMor" -> (() => {
        val image = SnapshotTable.read(s, t).filter(col("id") === 20)
        SnapshotTable.applyChangesMor(s, t, rows(s, 51 to 53),
          s.createDataFrame(image.collect().toList.asJava, image.schema))
      }),
      "compactDeleteFiles" -> (() => SnapshotTable.compactDeleteFiles(s, t)),
      "compactDeletes" -> (() => SnapshotTable.compactDeletes(s, t)),
      "deleteWhere" -> (() => SnapshotTable.deleteWhere(s, t, col("id") === 31)),
      "compactSmallFiles" -> (() => SnapshotTable.compactSmallFiles(s, t)),
      "commitFiles" -> (() => {
        val staged = s"$dir/staged"
        rows(s, 80 to 81).coalesce(1).write.mode("overwrite").parquet(staged)
        val fs = new org.apache.hadoop.fs.Path(staged).getFileSystem(s.sparkContext.hadoopConfiguration)
        SnapshotTable.commitFiles(s, t, fs.listStatus(new org.apache.hadoop.fs.Path(staged))
          .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq)
      }),
      "setProperties" -> (() => SnapshotTable.setProperties(s, t,
        Map("comment" -> "a b+c", "owner" -> "x%y"))),
      "addColumn" -> (() => SnapshotTable.addColumn(s, t, "extra", "int")),
      "widenColumn" -> (() => SnapshotTable.widenColumn(s, t, "extra", "bigint")),
      "renameColumn" -> (() => SnapshotTable.renameColumn(s, t, "name", "na%me")),
      "dropColumn" -> (() => SnapshotTable.dropColumn(s, t, "extra")),
      "commitToBranch" -> (() => {
        SnapshotTable.createBranch(s, t, "audit")
        SnapshotTable.commitToBranch(s, t, "audit",
          rows(s, 60 to 62).withColumnRenamed("name", "na%me"))
      }),
      "publishBranch" -> (() => SnapshotTable.publishBranch(s, t, "audit")),
      "overwrite" -> (() => SnapshotTable.commit(s, t,
        rows(s, 70 to 75).withColumnRenamed("name", "na%me"), append = false)),
      "rollback" -> (() => SnapshotTable.rollback(s, t, SnapshotTable.currentVersion(s, t) - 1)),
      "shallowClone" -> (() => SnapshotTable.shallowClone(s, t, c)),
      "commit clone" -> (() => SnapshotTable.commit(s, c,
        rows(s, 90 to 92).withColumnRenamed("name", "na%me"))),
      "setProperties clone" -> (() => SnapshotTable.setProperties(s, c, Map("k+ey" -> "v w"))),
      "commitAppend after clone" -> (() => SnapshotTable.commitAppend(s, t,
        rows(s, 93 to 94).withColumnRenamed("name", "na%me"))),
      "upsertEq after clone" -> (() => SnapshotTable.upsertEq(s, t, Seq("id"),
        rows(s, Seq(93), "up").withColumnRenamed("name", "na%me"))))
    ops.foreach { case (op, run) => println(s"FIXTURE $op -> v${run()}") }
  }
}
