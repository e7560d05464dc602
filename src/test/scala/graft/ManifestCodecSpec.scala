package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, MapType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.lake.{Manifest, SnapshotTable}
import graft.tools.LegacyManifestFixture

/** The manifest header codec: every typed fact round-trips through
  * [[Manifest.withFacts]] → publish → parse whatever its strings hold;
  * the schema evolutions whose facts hold a `,` keep the table
  * readable; and manifests written before the header escape parse to
  * the facts and rows they had when they were written.
  */
class ManifestCodecSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  // strings built from the characters a naive k=v,k=v codec or a
  // line format could trip on, plus non-ASCII text
  private val token = Gen.oneOf(",", "=", "%", "+", "#", "\t", "\n", " ", "%2C", "!", "a",
    "B", "7", "_", ".", "é", "日本", "🙂")
  private val anyString = Gen.listOf(token).map(_.mkString)
  private val someString = Gen.nonEmptyListOf(token).map(_.mkString)

  private def ddl(depth: Int): Gen[String] = {
    val leaf = Gen.oneOf(Gen.oneOf("int", "bigint", "string", "double", "date", "timestamp"),
      for { p <- Gen.choose(1, 38); s <- Gen.choose(0, p) } yield s"decimal($p,$s)")
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      1 -> Gen.zip(ddl(depth - 1), ddl(depth - 1)).map { case (k, v) => s"map<$k,$v>" },
      1 -> ddl(depth - 1).map(t => s"array<$t>"),
      1 -> Gen.nonEmptyListOf(ddl(depth - 1)).map(ts =>
        ts.zipWithIndex.map { case (t, i) => s"f$i:$t" }.mkString("struct<", ",", ">")))
  }

  private final case class Facts(
      mapping: Map[String, String], types: Map[String, String], ids: Map[String, Int],
      dropped: Map[String, Int], props: Map[String, String], partition: String,
      stats: Seq[String], blooms: Seq[String])

  private val facts: Gen[Facts] = for {
    mapping <- Gen.mapOf(Gen.zip(anyString, someString))
    types <- Gen.mapOf(Gen.zip(someString, ddl(2)))
    ids <- Gen.mapOf(Gen.zip(anyString, Gen.choose(Int.MinValue, Int.MaxValue)))
    dropped <- Gen.mapOf(Gen.zip(someString, Gen.choose(1, 1000)))
    props <- Gen.mapOf(Gen.zip(anyString, anyString))
    partition <- someString
    stats <- Gen.listOf(someString)
    blooms <- Gen.listOf(someString)
  } yield Facts(mapping, types, ids, dropped, props, partition, stats.distinct, blooms.distinct)

  test("every typed header fact round-trips through withFacts, publish and parse") {
    val root = "/tmp/graft_test/codec_roundtrip"
    SnapshotTable.drop(spark, root)
    val samples = Gen.listOfN(200, facts)
      .pureApply(Gen.Parameters.default.withSize(12), Seed(20261021L))
    // the generator reaches every character the codec must escape
    val text = samples.flatMap(f => f.mapping.keys ++ f.props.values ++ f.stats).mkString
    assert(Seq(",", "=", "%", "+", "#", "\t", "\n", "日本").forall(text.contains))
    assert(samples.exists(_.types.values.exists(t => t.contains("decimal(") && t.contains("map<"))))
    samples.zipWithIndex.foreach { case (f, i) =>
      val header = Manifest.withFacts(Map("op" -> "codec"),
        columnMapping = Some(f.mapping), columnTypes = Some(f.types), fieldIds = Some(f.ids),
        droppedColumns = Some(f.dropped), properties = Some(f.props),
        partitionSource = Some(f.partition), statsColumns = Some(f.stats),
        bloomColumns = Some(f.blooms))
      Manifest.publish(conf, root, s"v${i + 1}", header, Seq.empty)
      val mv = Manifest.at(conf, root, s"v${i + 1}")
      assert(mv.columnMapping === f.mapping, s"sample $i")
      assert(mv.columnTypes === f.types, s"sample $i")
      assert(mv.storedFieldIds === f.ids, s"sample $i")
      assert(mv.droppedColumns === f.dropped, s"sample $i")
      assert(mv.properties === f.props, s"sample $i")
      assert(mv.partitionSource === Some(f.partition), s"sample $i")
      assert(mv.statsColumns === f.stats, s"sample $i")
      assert(mv.bloomColumns === f.blooms, s"sample $i")
      assert(mv.header("op") === "codec")
      // what a commit copies forward parses to the same facts again
      Manifest.publish(conf, root, s"copy${i + 1}.v1", mv.inheritedHeader, Seq.empty)
      val copy = Manifest.at(conf, root, s"copy${i + 1}.v1")
      assert(copy.inheritedHeader === mv.inheritedHeader, s"sample $i")
      assert(copy.columnMapping === f.mapping && copy.statsColumns === f.stats, s"sample $i")
    }
  }

  private def decimalTable(root: String): Unit = {
    SnapshotTable.drop(spark, root)
    SnapshotTable.commit(spark, root, Seq((1, "1.25"), (2, "-3.50")).toDF("id", "d")
      .select(col("id"), col("d").cast("decimal(10,2)").as("d"), col("d").as("s")))
  }

  test("widening decimal(10,2) to decimal(12,2) keeps the table readable") {
    val root = "/tmp/graft_test/codec_widen_decimal"
    decimalTable(root)
    SnapshotTable.widenColumn(spark, root, "d", "decimal(12,2)")
    val df = SnapshotTable.read(spark, root)
    assert(df.schema("d").dataType === DecimalType(12, 2))
    assert(df.orderBy("id").select("d").as[java.math.BigDecimal].collect().map(_.toPlainString)
      .toSeq === Seq("1.25", "-3.50"))
  }

  test("adding a map<string,int> column keeps the table readable") {
    val root = "/tmp/graft_test/codec_add_map"
    decimalTable(root)
    SnapshotTable.addColumn(spark, root, "m", "map<string,int>")
    val df = SnapshotTable.read(spark, root)
    assert(df.schema("m").dataType === MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType))
    assert(df.orderBy("id").collect().map(r => (r.getInt(0), r.isNullAt(3))).toSeq ===
      Seq((1, true), (2, true)))
  }

  test("renaming a column to a,b reads back a column named a,b") {
    val root = "/tmp/graft_test/codec_rename_comma"
    decimalTable(root)
    SnapshotTable.renameColumn(spark, root, "s", "a,b")
    val df = SnapshotTable.read(spark, root)
    assert(df.columns.toSeq === Seq("id", "d", "a,b"))
    assert(df.orderBy("id").select(col("`a,b`")).as[String].collect().toSeq ===
      Seq("1.25", "-3.50"))
  }

  private val fixture = Paths.get("src/test/fixtures/legacy_manifests")

  /** The fixture, copied to the directory it was written under. */
  private def placeFixture(): Unit = {
    val dst = Paths.get(LegacyManifestFixture.Dir)
    SnapshotTable.drop(spark, s"${LegacyManifestFixture.Dir}/t")
    SnapshotTable.drop(spark, s"${LegacyManifestFixture.Dir}/c")
    val p = new org.apache.hadoop.fs.Path(LegacyManifestFixture.Dir)
    p.getFileSystem(conf).delete(p, true)
    Files.walk(fixture).iterator.asScala.toSeq.foreach { src: Path =>
      val to = dst.resolve(fixture.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(to)
      else Files.copy(src, to, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("manifests written before the header escape parse to the same facts and rows") {
    placeFixture()
    val expected = Files.readAllLines(fixture.resolve("expected.tsv")).asScala.toSeq
    val t = s"${LegacyManifestFixture.Dir}/t"
    val c = s"${LegacyManifestFixture.Dir}/c"
    // the fixture predates the header format marker
    assert(!new String(Files.readAllBytes(fixture.resolve("t/_manifests/v17.manifest")), "UTF-8")
      .contains("#format="))
    val stems = Seq("t" -> t, "c" -> c).flatMap { case (n, r) =>
      LegacyManifestFixture.stems(spark, r).map(st => (n, r, st))
    }
    assert(stems.size === 27, s"fixture stems: $stems")
    val actual = stems.flatMap { case (n, r, st) => LegacyManifestFixture.describe(spark, n, r, st) }
    assert(actual === expected)
    // the fixture holds the strings the old codec stored raw or escaped
    assert(expected.exists(_.contains("comment=a b+c")))
    assert(expected.exists(_.contains("na%me")))
    // a commit on a legacy head, and a rollback to a legacy version,
    // copy the facts forward in the escaped format
    val head = SnapshotTable.currentVersion(spark, t)
    val before = SnapshotTable.version(spark, t, head)
    val v = SnapshotTable.commitAppend(spark, t,
      Seq((95L, "n95", java.sql.Timestamp.valueOf("2024-03-02 10:00:00"), "u95"))
        .toDF("id", "na%me", "ts", "user"))
    val after = SnapshotTable.version(spark, t, v)
    assert(after.inheritedHeader === before.inheritedHeader)
    assert(after.properties === Map("comment" -> "a b+c", "owner" -> "x%y"))
    assert(SnapshotTable.read(spark, t).count() === SnapshotTable.read(spark, t, head).count() + 1)
    val rolled = SnapshotTable.rollback(spark, t, 17)
    assert(SnapshotTable.version(spark, t, rolled).inheritedHeader ===
      SnapshotTable.version(spark, t, 17).inheritedHeader)
    assert(SnapshotTable.read(spark, t, rolled).collect().map(_.toString).sorted ===
      SnapshotTable.read(spark, t, 17).collect().map(_.toString).sorted)
  }
}
