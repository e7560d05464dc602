package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlInternals, SparkSession}

/** User-facing as-of join API. Column names must be unambiguous
  * across the two inputs (rename the right side first).
  */
object AsOf {

  /** Runtime install for sessions not built with [[graft.GraftExtensions]]. */
  private def ensureStrategy(spark: SparkSession): Unit =
    if (!graft.GraftExtensions.installedOn(spark)) {
      val cur = spark.experimental.extraStrategies
      if (!cur.contains(AsOfJoinStrategy)) {
        spark.experimental.extraStrategies = cur :+ AsOfJoinStrategy
      }
      val rules = spark.experimental.extraOptimizations
      val missing = Seq(PruneAsOfJoinColumns, PushLimitThroughAsOfJoin, PushFilterThroughAsOfJoin).filterNot(rules.contains)
      if (missing.nonEmpty) {
        spark.experimental.extraOptimizations = rules ++ missing
      }
    }

  /** As-of LEFT join. Backward (default): every left row picks the
    * most recent right row with equal key and `rightTime <= leftTime`;
    * forward: the earliest right row with `rightTime >= leftTime`.
    * `toleranceMicros` nulls the match when the time gap exceeds it.
    */
  def join(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      forward: Boolean = false,
      toleranceMicros: Option[Long] = None,
      nearest: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    ensureStrategy(spark)
    val lPlan = GraftSqlInternals.logicalPlan(left)
    val rPlan = GraftSqlInternals.logicalPlan(right)
    def resolve(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${plan.output.map(_.name)}"))
    // the exec's tolerance/nearest arithmetic reads time values as
    // long (getLong) — accept only long-backed types up front instead
    // of corrupting silently on e.g. a DateType (int-backed) column
    def checkTime(a: org.apache.spark.sql.catalyst.expressions.Attribute): a.type = {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      a.dataType match {
        case TimestampType | TimestampNTZType | LongType => a
        case other => throw new IllegalArgumentException(
          s"as-of time column ${a.name} must be TIMESTAMP or BIGINT, got $other " +
            "(cast DATE/INT columns explicitly)")
      }
    }
    GraftSqlInternals.ofRows(spark, AsOfJoin(
      lPlan, rPlan,
      Seq(resolve(lPlan, leftKey)), Seq(resolve(rPlan, rightKey)),
      checkTime(resolve(lPlan, leftTime)), checkTime(resolve(rPlan, rightTime)),
      forward, toleranceMicros, nearest))
  }
}
