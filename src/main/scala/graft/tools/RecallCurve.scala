package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ann.Ann

/** Dev-only: recall-vs-tuning curves for the approximate ANN paths
  * on the clustered corpus (same generator as AnnRecallSpec).
  * Prints recall@10 for LSH over 1..6 tables and IVF over 1..6
  * probes; the SURVEY §6 numbers come from this output.
  */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    val corpus = Ann.clusteredCorpus(spark, clusters = 25,
      membersPerCluster = 40, dims = 16, noise = 0.15, seed = 42L).cache()
    val pred = col("vec_id") % 41 === 0
    val truth = Ann.bruteForceKnn(spark, corpus, pred, k = 10).cache()
    truth.count()
    for (t <- 1 to 6) {
      val r = Ann.recallAt(truth,
        Ann.lshKnn(spark, corpus, pred, k = 10, nBits = 8, tables = (1L to t.toLong)))
      println(f"lsh  nBits=8 tables=$t%d recall@10=$r%.3f")
    }
    for (p <- 1 to 6) {
      val r = Ann.recallAt(truth,
        Ann.ivfKnn(spark, corpus, pred, k = 10, nLists = 25, nProbes = p))
      println(f"ivf  nLists=25 probes=$p%d recall@10=$r%.3f")
    }
    spark.stop()
  }
}
