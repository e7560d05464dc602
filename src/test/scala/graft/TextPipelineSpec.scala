package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.{GopherRules, Packing}

/** Gopher quality rules + sequence packing — the round-2 additions to
  * the LLM-pipeline surface.
  */
class TextPipelineSpec extends SparkSpec {

  test("gopher rules: metrics sane, keep flag splits the corpus") {
    val df = GopherRules.gopherRules(spark, sf()).cache()
    val n = df.count()
    assert(n == 500)
    val bad = df.where(
      col("stop_frac") < 0 || col("stop_frac") > 1 ||
        col("top_word_frac") <= 0 || col("top_word_frac") > 1 ||
        col("dup_bigram_frac") < 0 || col("dup_bigram_frac") > 1).count()
    assert(bad == 0, "ratio out of range")
    val kept = df.where(col("keep")).count()
    assert(kept > 0 && kept < n, s"keep flag degenerate: $kept of $n")
  }

  test("packing offsets equal the exact global prefix sum") {
    val got = Packing.packSequences(spark, sf())
    // independent single-window reference (fine at spec scale)
    val ref = got.select("doc_id", "n_tokens")
      .withColumn("exp_offset", coalesce(
        sum("n_tokens").over(Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val diffs = got.join(ref.select("doc_id", "exp_offset"), "doc_id")
      .where(col("offset") =!= col("exp_offset")).count()
    assert(diffs == 0)
    // chunk arithmetic: a doc spans iff its token range crosses a boundary
    val badSpan = got.where(
      col("spans_boundary") =!= (col("first_chunk") =!= col("last_chunk"))).count()
    assert(badSpan == 0)
  }

  test("packing plan has no single-partition exchange") {
    val p = Packing.packSequences(spark, sf())
      .queryExecution.executedPlan.toString
    // the text must reach the scans (not stop at the AQE wrapper)
    assert(p.contains("Scan"), p.take(1500))
    assert(!p.contains("SinglePartition"),
      s"global scan leaked into the plan:\n${p.take(1500)}")
  }
}
