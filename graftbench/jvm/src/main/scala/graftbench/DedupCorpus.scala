package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.dedup.Dedup

/** dedup_corpus: the LLM-data dedup operators over seed-generated shards.
  *
  * `--inputs` holds `shard_<k>/documents.parquet` and
  * `shard_<k>/embeddings.parquet` plus `truth.tsv`, the planted pairs
  * (`shard kind a b`, kind one of exact, near_text, near_vec; kind
  * `rows` gives the shard's document and vector counts). Each op
  * dedups one shard with `Dedup.exact`, `Dedup.minhashLsh`,
  * `Dedup.embedding` (the exact N² self-1-NN) and `Dedup.embeddingAnn`,
  * collecting every result. The exact operators must find every planted
  * pair; the share of planted vector pairs the ANN path finds is its
  * recall.
  */
final class DedupCorpus extends Workload {
  private var shards: IndexedSeq[String] = IndexedSeq.empty
  private var truth: Map[(String, String), Seq[(Long, Long)]] = Map.empty
  private var rowsPerShard: Map[String, Long] = Map.empty
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private var annFound = 0L
  private var annPlanted = 0L
  private var mhFound = 0L
  private var mhPlanted = 0L

  def setup(ctx: Ctx, root: String): Unit = {
    shards = Files.list(Paths.get(ctx.inputs)).iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith("shard_")).toIndexedSeq.sorted
    truth = Files.readAllLines(Paths.get(s"${ctx.inputs}/truth.tsv")).asScala.toSeq
      .map(_.split("\t")).groupBy(f => (f(0), f(1)))
      .map { case (k, fs) => k -> fs.map(f => (f(2).toLong, f(3).toLong)) }
    rowsPerShard = truth.collect { case ((s, "rows"), Seq((docs, vecs))) => s -> (docs + vecs) }
    annFound = 0; annPlanted = 0; mhFound = 0; mhPlanted = 0
  }

  /** Runs the four operators once on `warmup_shard`, a quarter-size shard:
    * enough to load and compile their code, cheap enough to repeat in
    * every set-up. */
  def warmup(ctx: Ctx): Unit = {
    val d = s"${ctx.inputs}/warmup_shard"
    Seq(Dedup.exact _, Dedup.minhashLsh _, Dedup.embedding _)
      .foreach(f => f(ctx.spark, d).collect())
    Dedup.embeddingAnn(ctx.spark, d).collect()
  }

  // an op takes most of a run, so only the first after the warm-up is timed
  def cycleOps: Int = 1
  def cyclesMeasured: Int = 1

  /** A `Dedup.exact` result that keeps every row, planted copies included. */
  def wrong(result: Any): Any = result match {
    case Seq((exDf: DataFrame, ex: Array[Row]), rest @ _*) =>
      (exDf, ex.map(r => Row.fromSeq(r.toSeq.updated(3, true)))) +: rest
    case other => other
  }

  private def pairs(shard: String, kind: String) = truth.getOrElse((shard, kind), Seq.empty)

  def op(ctx: Ctx, i: Int): Op = {
    if (i % shards.size == 0)
      order = new scala.util.Random(ctx.seed * 7919L + i / shards.size).shuffle(shards)
    val shard = order(i % shards.size)
    val dir = s"${ctx.inputs}/$shard"
    def timed(name: String)(f: => DataFrame): (DataFrame, Array[Row]) =
      ctx.span(name) { val df = f; (df, df.collect()) }
    Op("read", "dedup_shard", rows = rowsPerShard(shard),
      run = () => Seq(
        timed("dedup.exact")(Dedup.exact(ctx.spark, dir)),
        timed("dedup.minhashLsh")(Dedup.minhashLsh(ctx.spark, dir)),
        timed("dedup.embedding")(Dedup.embedding(ctx.spark, dir)),
        timed("ann.embeddingAnn")(Dedup.embeddingAnn(ctx.spark, dir))),
      check = r => {
        val Seq((_, ex), (mhDf, mh), (embDf, emb), (annDf, ann)) =
          r.asInstanceOf[Seq[(DataFrame, Array[Row])]]
        if (ctx.traced) {
          val vectors = emb.length.toDouble
          val docs = mh.length.toDouble
          ctx.attrs("cosine_evals_per_vector") =
            PlanMetrics.rowsIntoPartialAgg(embDf, "topk") / vectors
          val (cand, verified) = PlanMetrics.predicateRows(mhDf, "jaccard")
          ctx.attrs("minhash_candidates_per_doc") = cand / docs
          ctx.attrs("minhash_verified_ratio") = if (cand > 0) verified.toDouble / cand else 0.0
          ctx.attrs("ann_candidates_per_vector") =
            PlanMetrics.predicateRows(annDf, "cosine")._1 / vectors
        }
        // exact: each planted copy shares its original's hash and is not kept
        val exH = ex.map(r => r.getLong(0) -> (r.get(1).toString, r.getBoolean(3))).toMap
        val exMiss = pairs(shard, "exact").filterNot { case (a, b) =>
          exH(a)._1 == exH(b)._1 && !exH(b)._2 }
        // exact 1-NN: each planted vector pair are each other's nearest and flagged
        val nn = emb.map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
        val nnMiss = pairs(shard, "near_vec").filterNot { case (a, b) =>
          nn(a) == (b, true) && nn(b) == (a, true) }
        val annDup = ann.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
        annPlanted += pairs(shard, "near_vec").size
        annFound += pairs(shard, "near_vec").count { case (_, b) => annDup(b) }
        val mhDup = mh.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
        mhPlanted += pairs(shard, "near_text").size
        mhFound += pairs(shard, "near_text").count { case (_, b) => mhDup(b) }
        if (exMiss.nonEmpty) Some(s"Dedup.exact missed planted pairs ${exMiss.take(3)} in $shard")
        else if (nnMiss.nonEmpty) Some(s"Dedup.embedding missed planted pairs ${nnMiss.take(3)} in $shard")
        else None
      })
  }

  def finish(ctx: Ctx): Map[String, Any] = Map(
    "shards" -> shards.size,
    "rows_per_shard" -> rowsPerShard,
    "planted_pairs_per_kind" -> truth.filter(_._1._2 != "rows").groupBy(_._1._2)
      .map { case (k, m) => k -> m.values.map(_.size).sum },
    "ann_pairs_found" -> annFound, "ann_pairs_planted" -> annPlanted,
    "ann_recall" -> (if (annPlanted > 0) annFound.toDouble / annPlanted else 0.0),
    "minhash_near_text_found" -> mhFound, "minhash_near_text_planted" -> mhPlanted)
}
