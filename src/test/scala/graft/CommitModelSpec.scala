package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.lake.SnapshotTable

/** Model-based check of the commit paths: fixed-seed sequences of
  * appends, overwrites, optimistic appends, MoR deletes, equality
  * upserts, both compactions, rollbacks, column adds and renames, and
  * one optimistic append that loses its CAS to a second thread and
  * rebases. An in-memory model (column names plus a row multiset per
  * version) replays each op; at the end every version the table
  * reached must read back exactly the model's rows under the model's
  * columns, so a commit that drops, duplicates or resurrects a row,
  * or loses a header, shows at the version it happened.
  *
  * The race is forced, not hoped for: [[ManifestSeamFs]] runs the
  * second writer synchronously inside the first writer's manifest-tmp
  * create, after it staged its data and before its publish.
  */
class CommitModelSpec extends SparkSpec {

  private sealed trait Op extends Product
  private case class Append(n: Int, files: Int) extends Op
  private case class Overwrite(n: Int) extends Op
  private case class AppendCas(n: Int) extends Op
  private case class DeleteMor(mod: Int, rem: Int) extends Op
  private case class Upsert(n: Int, hits: Int) extends Op
  private case object CompactDeletes extends Op
  private case object CompactSmall extends Op
  private case class Rollback(frac: Double) extends Op
  private case object AddColumn extends Op
  private case class Rename(pick: Int) extends Op
  private case class Race(nA: Int, nB: Int) extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> (for { n <- Gen.choose(1, 6); f <- Gen.choose(1, 3) } yield Append(n, f)),
    1 -> Gen.choose(1, 5).map(Overwrite(_)),
    2 -> Gen.choose(1, 5).map(AppendCas(_)),
    2 -> (for { m <- Gen.choose(3, 7); r <- Gen.choose(0, 6) } yield DeleteMor(m, r % m)),
    2 -> (for { n <- Gen.choose(0, 3); h <- Gen.choose(1, 3) } yield Upsert(n, h)),
    1 -> Gen.const(CompactDeletes),
    1 -> Gen.const(CompactSmall),
    1 -> Gen.choose(0.0, 1.0).map(Rollback(_)),
    1 -> Gen.const(AddColumn),
    1 -> Gen.choose(0, 7).map(Rename(_)),
    1 -> (for { a <- Gen.choose(1, 4); b <- Gen.choose(1, 4) } yield Race(a, b)))

  private val Sequences = 5
  private val OpsPerSequence = 16

  private val sequences: List[List[Op]] =
    Gen.listOfN(Sequences, Gen.listOfN(OpsPerSequence, genOp))
      .pureApply(Gen.Parameters.default, Seed(20261019L))

  /** Logical columns (`id` first, the rest strings) and a row multiset. */
  private case class State(cols: Vector[String], rows: Vector[Map[String, Any]])

  private val scheme = "graftmseam://"

  test("the fixed seed draws every op kind") {
    val kinds = Set("Append", "Overwrite", "AppendCas", "DeleteMor", "Upsert",
      "CompactDeletes", "CompactSmall", "Rollback", "AddColumn", "Rename", "Race")
    assert(sequences.flatten.map(_.productPrefix).toSet === kinds)
  }

  sequences.zipWithIndex.foreach { case (ops, i) =>
    test(s"sequence $i: every reachable version reads back the model's rows " +
      ops.map(_.productPrefix).mkString("(", ",", ")")) {
      spark.sparkContext.hadoopConfiguration
        .set("fs.graftmseam.impl", classOf[ManifestSeamFs].getName)
      val root = s"$scheme/tmp/graft_test/commit_model/seq$i"
      SnapshotTable.drop(spark, root)
      run(root, Append(4, 2) :: ops)
    }
  }

  private def run(root: String, ops: List[Op]): Unit = {
    val versions = scala.collection.mutable.Map.empty[Int, State]
    var cur = 0
    var state = State(Vector("id", "v"), Vector.empty)
    var nextId = 0L
    var nextCol = 0

    def fresh(n: Int, tag: String): Vector[Map[String, Any]] =
      Vector.fill(n) {
        nextId += 1
        row(state.cols, nextId, tag)
      }
    def row(cols: Seq[String], id: Long, tag: String): Map[String, Any] =
      cols.map { c =>
        c -> (if (c == "id") id
              else if ((id + c.length) % 5 == 0) null
              else s"$c-$id-$tag")
      }.toMap
    def frame(rows: Seq[Map[String, Any]], files: Int = 1) = {
      val schema = StructType(state.cols.map(c =>
        StructField(c, if (c == "id") LongType else StringType)))
      val data = rows.map(r => Row.fromSeq(state.cols.map(r(_))))
      spark.createDataFrame(spark.sparkContext.parallelize(data, files), schema)
    }
    def land(v: Int, next: State): Unit = {
      assert(v == cur + 1, s"expected a new version ${cur + 1}, got $v")
      cur = v
      state = next
      versions(v) = next
    }

    ops.zipWithIndex.foreach { case (op, k) =>
      val tag = s"o$k"
      op match {
        case Append(n, files) =>
          val rows = fresh(n, tag)
          land(SnapshotTable.commit(spark, root, frame(rows, files)),
            state.copy(rows = state.rows ++ rows))
        case Overwrite(n) =>
          val rows = fresh(n, tag)
          land(SnapshotTable.commit(spark, root, frame(rows), append = false),
            state.copy(rows = rows))
        case AppendCas(n) =>
          val rows = fresh(n, tag)
          land(SnapshotTable.commitAppend(spark, root, frame(rows)),
            state.copy(rows = state.rows ++ rows))
        case DeleteMor(mod, rem) =>
          val (gone, kept) = state.rows.partition(_("id").asInstanceOf[Long] % mod == rem)
          val v = SnapshotTable.deleteWhereMor(spark, root, col("id") % lit(mod) === lit(rem))
          if (gone.isEmpty) assert(v == cur, "a delete matching nothing commits nothing")
          else land(v, state.copy(rows = kept))
        case Upsert(n, hits) =>
          val ids = state.rows.map(_("id").asInstanceOf[Long]).distinct.take(hits)
          val batch = ids.map(row(state.cols, _, tag)) ++ fresh(n, tag)
          if (batch.nonEmpty) {
            val keys = batch.map(_("id")).toSet
            land(SnapshotTable.upsertEq(spark, root, Seq("id"), frame(batch)),
              state.copy(rows = state.rows.filterNot(r => keys(r("id"))) ++ batch))
          }
        case CompactDeletes =>
          val v = SnapshotTable.compactDeletes(spark, root)
          if (v != cur) land(v, state)
        case CompactSmall =>
          val v = SnapshotTable.compactSmallFiles(spark, root)
          if (v != cur) land(v, state)
        case Rollback(frac) =>
          val to = 1 + math.min(cur - 1, (frac * cur).toInt)
          land(SnapshotTable.rollback(spark, root, to), versions(to))
        case AddColumn =>
          nextCol += 1
          val c = s"c$nextCol"
          land(SnapshotTable.addColumn(spark, root, c, "string"),
            State(state.cols :+ c, state.rows.map(_ + (c -> null))))
        case Rename(pick) =>
          val from = state.cols.tail(pick % state.cols.tail.size)
          nextCol += 1
          val to = s"r$nextCol"
          land(SnapshotTable.renameColumn(spark, root, from, to),
            State(state.cols.map(c => if (c == from) to else c),
              state.rows.map(r => r - from + (to -> r(from)))))
        case Race(nA, nB) =>
          val rowsA = fresh(nA, s"${tag}a")
          val rowsB = fresh(nB, s"${tag}b")
          val (frameA, frameB) = (frame(rowsA), frame(rowsB))
          @volatile var vB = -1
          @volatile var failB: Throwable = null
          ManifestSeamFs.armOnce { () =>
            val t = new Thread(() =>
              try vB = SnapshotTable.commitAppend(spark, root, frameB)
              catch { case e: Throwable => failB = e })
            t.start()
            t.join()
          }
          val vA =
            try SnapshotTable.commitAppend(spark, root, frameA)
            finally ManifestSeamFs.disarm()
          if (failB != null) throw failB
          land(vB, state.copy(rows = state.rows ++ rowsB))
          land(vA, state.copy(rows = state.rows ++ rowsA))
          assert(SnapshotTable.version(spark, root, vA).header.get("op").isEmpty &&
            SnapshotTable.dataFiles(spark, root, vA).size >
              SnapshotTable.dataFiles(spark, root, vB).size,
            "the losing append rebased onto the winner's version")
      }
    }

    assert(SnapshotTable.currentVersion(spark, root) == cur)
    (1 to cur).foreach { v =>
      val want = versions(v)
      val df = SnapshotTable.read(spark, root, v)
      assert(df.columns.toSet == want.cols.toSet, s"columns at v$v")
      val got = df.collect().toSeq.map(r => df.columns.map(c => c -> r.getAs[Any](c)).toMap)
      assert(canonical(got) == canonical(want.rows), s"rows at v$v")
    }
  }

  private def canonical(rows: Seq[Map[String, Any]]): Seq[String] =
    rows.map(_.toSeq.sortBy(_._1).mkString(",")).sorted
}
