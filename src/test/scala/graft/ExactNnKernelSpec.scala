package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.functions.{Cosine, TopKBuffer}

/** `Dedup.exactSelf1nn`, the blocked cosine kernel, against a reference
  * loop on the driver that scores every pair with the shared
  * [[Cosine]] helper and ranks with [[TopKBuffer.before]]:
  * (vec_id, nn_id, cos) must be bit-identical under every layout —
  * shuffle partitions 1, 3 and 17, AQE on and off. Inputs are fixed-seed
  * random vectors with exact duplicates (ties between different ids),
  * a null vector, a vector shorter than the rest (pairs of unequal
  * length), and a corpus holding a zero vector (NaN scores).
  */
class ExactNnKernelSpec extends SparkSpec {

  private type Vecs = Seq[(Long, Array[Float])]

  private val schema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  private def frame(rows: Vecs): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, Option(v).map(_.toSeq).orNull) }, 3),
    schema)

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def kernel(rows: Vecs): Seq[(Long, Long, Long)] =
    Dedup.exactSelf1nn(spark, frame(rows)).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)))).sorted

  private def reference(rows: Vecs): Seq[(Long, Long, Long)] = {
    val live = rows.filter(_._2 != null)
    live.flatMap { case (q, qv) =>
      var best: Option[(Double, Long)] = None
      live.foreach { case (c, cv) =>
        if (c != q) {
          val s = Cosine.of(qv.map(_.toDouble), cv.map(_.toDouble))
          if (best.forall { case (bs, bid) => TopKBuffer.before(s, c, bs, bid) }) best = Some((s, c))
        }
      }
      best.map { case (s, c) => (q, c, bits(s)) }
    }.sorted
  }

  private def withConf[A](conf: (String, String)*)(body: => A): A = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val layouts = for (p <- Seq(1, 3, 17); aqe <- Seq(true, false)) yield (p, aqe)

  private def assertMatchesReference(rows: Vecs): Unit = {
    val want = reference(rows)
    layouts.foreach { case (p, aqe) =>
      withConf("spark.sql.shuffle.partitions" -> p.toString,
          "spark.sql.adaptive.enabled" -> aqe.toString) {
        assert(kernel(rows) === want, s"shuffle partitions $p, AQE $aqe")
      }
    }
  }

  private val rnd = new scala.util.Random(20261019L)
  private def vec(dim: Int): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)

  test("random vectors with duplicates, a null and a short vector match the reference") {
    val base: Vecs = (1L to 300L).map(i => i -> vec(16))
    // vector 7 twice more and vector 40 once more: queries see exact
    // ties between different ids, and each copy's nearest is a copy
    val dups: Vecs = Seq(1007L, 2007L, 1040L).map(i => i -> base((i % 1000 - 1).toInt)._2.clone())
    // vector 5's first 12 elements: its pairs are all of unequal length,
    // and over the common prefix it is vector 5's nearest (cos 1)
    val short: Vecs = Seq(3005L -> base(4)._2.take(12))
    val rows = base ++ dups ++ short :+ (4000L -> null)
    val want = reference(rows)
    assert(want.length === rows.length - 1, "the null vector gets no row")
    assert(!want.exists(_._2 == 4000L), "the null vector is no one's neighbor")
    assert(want.find(_._1 == 7L).map(_._2) === Some(1007L), "a tie breaks by the lower id")
    assert(want.find(_._1 == 5L).map(_._2) === Some(3005L), "the short vector scores on the prefix")
    assertMatchesReference(rows)
  }

  test("a zero vector (NaN scores) gives the same neighbors under every layout") {
    val rows: Vecs = (1L to 40L).map(i => i -> vec(8)) :+ (41L -> Array.fill(8)(0f))
    val want = reference(rows)
    // NaN ranks above every number: every vector's nearest is the zero
    // vector, whose own nearest is the lowest id
    assert(want.find(_._1 == 41L).map(_._2) === Some(1L))
    assert(want.filter(_._1 != 41L).forall(_._2 == 41L))
    assertMatchesReference(rows)
  }

  test("a null vector is never a neighbor, and a lone vector gets no row") {
    val rows: Vecs = Seq(1L -> Array(1f, 0f), 2L -> null, 3L -> Array(.5f, .5f))
    assert(kernel(rows).map(r => (r._1, r._2)) === Seq((1L, 3L), (3L, 1L)))
    assert(kernel(Seq(1L -> Array(1f, 0f))).isEmpty)
    assert(kernel(Seq(1L -> Array(1f, 0f), 2L -> null)).isEmpty)
  }

  test("zero vector among three: the NaN-scored query takes the lowest id") {
    val rows: Vecs = Seq(1L -> Array(1f, 0f), 2L -> Array(0f, 0f), 3L -> Array(.5f, .5f))
    assert(reference(rows).find(_._1 == 2L).map(_._2) === Some(1L))
    assertMatchesReference(rows)
  }
}
