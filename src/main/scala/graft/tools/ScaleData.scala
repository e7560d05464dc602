package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.Tables

/** Dev-only: scale the driver testdata up by integer replication with
  * consistent key offsets, so joins keep their semantics (copy i of
  * an order references copy i of its customer, etc.). Produces a
  * TPC-H-style larger SF for shuffle-dominated benchmarking — sf0.1
  * × 10 ≈ sf1 row counts (lineitem 6M). Dimension tables (region,
  * nation) are NOT replicated, exactly like TPC-H scaling.
  *
  * Usage: runMain graft.tools.ScaleData <srcDir> <destDir> <factor>
  */
object ScaleData {

  /** table -> (key columns offset by that table's own base, foreign
    * keys offset by the referenced table's base)
    */
  private val keyCols: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq("c_custkey" -> "customer", "c_nationkey" -> ""),
    "supplier" -> Seq("s_suppkey" -> "supplier", "s_nationkey" -> ""),
    "part" -> Seq("p_partkey" -> "part"),
    "orders" -> Seq("o_orderkey" -> "orders", "o_custkey" -> "customer"),
    "lineitem" -> Seq("l_orderkey" -> "orders", "l_partkey" -> "part",
      "l_suppkey" -> "supplier", "l_linenumber" -> ""),
    "events" -> Seq("event_id" -> "events_id", "user_id" -> "events_user"),
    "documents" -> Seq("doc_id" -> "documents"),
    "embeddings" -> Seq("vec_id" -> "embeddings"))

  def main(args: Array[String]): Unit = {
    val Array(src, dest, factorStr) = args.take(3)
    val factor = factorStr.toInt
    val spark = GraftSession.build()

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    val bases: Map[String, Long] = {
      val customer = Tables.load(spark, src, "customer")
      val supplier = Tables.load(spark, src, "supplier")
      val part = Tables.load(spark, src, "part")
      val orders = Tables.load(spark, src, "orders")
      val events = Tables.load(spark, src, "events")
      val documents = Tables.load(spark, src, "documents")
      val embeddings = Tables.load(spark, src, "embeddings")
      Map(
        "customer" -> maxOf(customer, "c_custkey"),
        "supplier" -> maxOf(supplier, "s_suppkey"),
        "part" -> maxOf(part, "p_partkey"),
        "orders" -> maxOf(orders, "o_orderkey"),
        "events_id" -> maxOf(events, "event_id"),
        "events_user" -> maxOf(events, "user_id"),
        "documents" -> maxOf(documents, "doc_id"),
        "embeddings" -> maxOf(embeddings, "vec_id"))
    }

    Tables.all.foreach { t =>
      val df = Tables.load(spark, src, t)
      val out =
        if (!keyCols.contains(t)) df // dims: copy through once
        else {
          val offs = keyCols(t).filter(_._2.nonEmpty)
          (0 until factor).map { i =>
            offs.foldLeft(df) { case (d, (c, baseKey)) =>
              val dt = d.schema(c).dataType.simpleString
              d.withColumn(c, (col(c) + lit(i * bases(baseKey))).cast(dt))
            }
          }.reduce(_ unionByName _)
        }
      // Tables.load unconditionally rebuilds events.ts from a nanos
      // LONG — write it back as one so the scaled dir reads through
      // the same path as the driver's
      val physical =
        if (t == "events") out.withColumn("ts", (unix_micros(col("ts")) * 1000L).cast("long"))
        else out
      physical.write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"SCALED $t -> $dest/$t.parquet")
    }
    spark.stop()
  }
}
