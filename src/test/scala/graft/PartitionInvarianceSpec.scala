package graft

import java.security.MessageDigest

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The README's determinism claim: an oracled entry's result is
  * bit-identical under any partitioning. Each draw (ScalaCheck, fixed
  * seed) picks an oracled entry and a layout — shuffle partitions,
  * AQE on or off, default or small file splits — and the entry's
  * sorted-row hash at sf0.001 must equal its hash under the session's
  * own GraftSession config. The sample is sized to keep the spec near
  * a minute; the seed fixes which draws run.
  */
class PartitionInvarianceSpec extends SparkSpec {

  private case class Layout(partitions: Int, aqe: Boolean, maxPartitionBytes: Option[Long]) {
    def conf: Seq[(String, String)] = Seq(
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.adaptive.enabled" -> aqe.toString) ++
      maxPartitionBytes.map("spark.sql.files.maxPartitionBytes" -> _.toString)
  }

  // 32 KB splits embeddings (~190 KB, the largest sf0.001 table),
  // lineitem, documents and orders into several file splits each
  private val SmallSplit = 32L * 1024
  private val Draws = 24

  private val draws: List[(String, Layout)] = {
    val draw = for {
      name <- Gen.oneOf(SparkEntry.oracleSql.keys.toSeq.sorted)
      partitions <- Gen.oneOf(1, 3, 17)
      aqe <- Gen.oneOf(true, false)
      split <- Gen.oneOf(None, Some(SmallSplit))
    } yield (name, Layout(partitions, aqe, split))
    Gen.listOfN(Draws, draw).pureApply(Gen.Parameters.default, Seed(20260918L))
  }

  private def sortedRowHash(name: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    SparkEntry.queries(name)(spark, sf()).collect().map(_.toString).sorted
      .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def withConf[A](conf: Seq[(String, String)])(body: => A): A = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val defaultHash = scala.collection.mutable.Map.empty[String, String]

  draws.zipWithIndex.foreach { case ((name, layout), i) =>
    val split = layout.maxPartitionBytes.fold("default")(b => s"${b / 1024}KB")
    test(f"draw $i%02d $name: partitions=${layout.partitions} aqe=${layout.aqe} splits=$split") {
      val want = defaultHash.getOrElseUpdate(name, sortedRowHash(name))
      assert(withConf(layout.conf)(sortedRowHash(name)) === want)
    }
  }
}
