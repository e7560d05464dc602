package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Dev-only: phase attribution for dedup_cc_ann at scale (VERDICT r16
  * task 3 — "attribute the 43.2 s"). Breaks the entry into its
  * pipeline phases and times each materialized in isolation:
  *
  *   1. LSH banding (2×12-bit hyperplane buckets)
  *   2. capped pair generation on bare ids (window sort + self-join)
  *   3. embedding join-back + exact-cosine verify
  *   4. connected components over the verified edges
  *   5. sizes join + global orderBy (the entry's output shape)
  *
  * Also reports the clone structure ScaleData's verbatim replication
  * creates (distinct embedding count vs rows, verified-edge split
  * into exact-clone cos=1 edges vs genuine near-dup edges) — the
  * suspected sf5 cost driver.
  */
object CcAnnProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    graft.functions.GraftFunctions.register(spark)
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROFILE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val n = phase("load+count")(e.count())
    val nd = phase("distinct-embeddings")(
      e.select("embedding").distinct().count())
    println(f"PROFILE rows=$n distinct=$nd cloneFactor=${n.toDouble / nd}%.1f")
    val bucketed = Seq(1L, 2L).map { seed =>
      e.select(col("vec_id").as("id"), lit(seed).as("band"),
        expr(s"graft_lsh_bucket(embedding, 12, $seed)").as("band_key"))
    }.reduce(_ unionByName _)
    phase("banding")(bucketed.count())
    val pairs = graft.dedup.Dedup.cappedPairs(bucketed).localCheckpoint()
    val np = phase("capped-pairs")(pairs.count())
    println(s"PROFILE candidate_pairs=$np")
    val verified = pairs
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
      .withColumn("cos", expr("graft_cosine(emb_a, emb_b)"))
      .filter(round(col("cos"), 6) >= 0.45)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .localCheckpoint()
    val nv = phase("cosine-verify")(verified.count())
    val nClone = verified.filter(col("cos") >= 0.999999).count()
    println(s"PROFILE verified_edges=$nv clone_edges(cos~1)=$nClone " +
      s"genuine=${nv - nClone}")
    val labels = phase("connected-components")(
      graft.dedup.ConnectedComponents.run(
        verified.select(col("id_a").as("src"), col("id_b").as("dst")),
        e.select(col("vec_id").as("id")), maxIter = 8, verbose = true)
        .localCheckpoint())
    phase("sizes+orderBy+write") {
      val sizes = labels.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, Seq("component"))
        .select(col("id").as("vec_id"), col("component"), col("cluster_size"))
        .orderBy("vec_id")
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
