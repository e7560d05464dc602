package graft.lake

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{DateType, StringType, TimestampType}

/** Best-effort derivation of `day(ts)` partition bounds from a row
  * predicate — the piece that makes HIDDEN partitioning useful: the
  * user filters on `ts`, the table is partitioned by the transform
  * `day(ts)` (reference DDL `WITH (partitioning = ARRAY['day(ts)'])`,
  * RUNBOOK.md:91), and scan planning maps the ts bounds through the
  * transform to skip partitions.
  *
  * Correctness NEVER depends on this: the full predicate is always
  * re-applied after the scan, so an unrecognized predicate shape just
  * means no pruning (scan everything), exactly like Iceberg's residual
  * evaluation.
  */
object PartitionTransforms {

  private val Utc = ZoneOffset.UTC

  private def dayOfMicros(us: Long): String =
    LocalDate.ofInstant(Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L), Utc).toString

  /** Evaluate a foldable expression to a yyyy-MM-dd day string. */
  private def dayOf(raw: Expression): Option[String] = {
    // literals arrive as un-timezoned casts (col >= lit("…").cast("timestamp"));
    // resolve them against UTC — the session timezone graft runs with
    val e = raw.transform {
      case t: TimeZoneAwareExpression if t.timeZoneId.isEmpty => t.withTimeZone("UTC")
    }
    if (!e.foldable) None
    else
      try e.dataType match {
        case TimestampType => Option(e.eval()).map(v => dayOfMicros(v.asInstanceOf[Long]))
        case DateType => Option(e.eval()).map(v => LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
        case StringType => Option(e.eval()).map(_.toString.take(10))
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def isCol(e: Expression, name: String): Boolean = e match {
    case u: UnresolvedAttribute => u.name == name
    case a: AttributeReference => a.name == name
    case _ => false
  }

  /** (lower, upper) bounds the conjuncts of `e` put on column `src`,
    * each value read through `of`, inclusive at file granularity
    * (strict < / > relax to <= / >=, which can only over-scan, never
    * under-scan); `And` keeps the tighter bound of each side, and a
    * `startsWith` bounds from below. (None, None) = cannot prune.
    */
  private def bounds[T](e: Expression, src: String, of: Expression => Option[T])(
      implicit ord: Ordering[T]): (Option[T], Option[T]) = e match {
    case And(l, r) =>
      val (ll, lu) = bounds(l, src, of)
      val (rl, ru) = bounds(r, src, of)
      ((ll ++ rl).reduceOption[T](ord.max(_, _)), (lu ++ ru).reduceOption[T](ord.min(_, _)))
    case GreaterThanOrEqual(a, v) if isCol(a, src) => (of(v), None)
    case GreaterThan(a, v) if isCol(a, src) => (of(v), None) // day granularity: ts > x ⇒ day ≥ day(x)
    case LessThanOrEqual(a, v) if isCol(a, src) => (None, of(v))
    case LessThan(a, v) if isCol(a, src) => (None, of(v))
    case EqualTo(a, v) if isCol(a, src) => (of(v), of(v))
    // mirrored operand order
    case GreaterThanOrEqual(v, a) if isCol(a, src) => (None, of(v))
    case GreaterThan(v, a) if isCol(a, src) => (None, of(v))
    case LessThanOrEqual(v, a) if isCol(a, src) => (of(v), None)
    case LessThan(v, a) if isCol(a, src) => (of(v), None)
    case EqualTo(v, a) if isCol(a, src) => (of(v), of(v))
    // a prefix predicate bounds the range [prefix, prefix+∞): every
    // matching string is >= prefix, and <= any string of
    // prefix-with-last-byte-bumped is NOT safe under arbitrary bytes
    // — the lower bound alone already skips disjoint sorted files.
    // Only string columns meet it: an analyzed startsWith on a date or
    // timestamp wraps the column in a Cast, and a string operand has no
    // numeric value
    case StartsWith(a, v) if isCol(a, src) => (of(v), None)
    case _ => (None, None)
  }

  /** (lower day, upper day) bounds implied by `e` for column `src`. */
  def dayBounds(e: Expression, src: String): (Option[String], Option[String]) =
    bounds(e, src, dayOf)

  /** Evaluate a foldable expression to a numeric value. */
  private def numOf(e: Expression): Option[Double] =
    if (!e.foldable) None
    else
      try Option(e.eval()).collect {
        case n: Number => n.doubleValue()
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
      } catch { case scala.util.control.NonFatal(_) => None }

  /** (lower, upper) numeric bounds implied by `e` for column `src`:
    * they drive per-file min/max stats skipping; like [[dayBounds]],
    * correctness never depends on them — the residual predicate always
    * re-applies.
    */
  def numericBounds(e: Expression, src: String): (Option[Double], Option[Double]) =
    bounds(e, src, numOf)(Ordering.Double.IeeeOrdering)

  /** Evaluate a foldable expression to UTF-8 bound bytes. */
  private def strOf(e: Expression): Option[Array[Byte]] =
    if (!e.foldable || e.dataType != StringType) None
    else
      try Option(e.eval()).map(
        _.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
      catch { case scala.util.control.NonFatal(_) => None }

  /** (lower, upper) STRING bounds implied by `e` for column `src`, as
    * UTF-8 bytes under unsigned lexicographic order — UTF8String's own
    * comparison order AND the order parquet string footer stats are
    * kept in, so the file-interval test is exact. Inclusive at file
    * granularity (strict relaxes to non-strict: over-scan only), like
    * [[numericBounds]]; the residual predicate always re-applies.
    */
  def stringBounds(e: Expression, src: String)(
      implicit ord: Ordering[Array[Byte]]): (Option[Array[Byte]], Option[Array[Byte]]) =
    bounds(e, src, strOf)

  /** Equality/IN literal values for column `src` in `e` (catalyst-
    * internal representations with their types, ready for
    * XxHash64Function). Any one conjunct's equality set is enough to
    * drive bloom skipping — a file missing ALL of the values cannot
    * satisfy that conjunct.
    */
  def equalityValues(e: Expression, src: String): Option[Seq[(Any, org.apache.spark.sql.types.DataType)]] = e match {
    case And(l, r) => equalityValues(l, src).orElse(equalityValues(r, src))
    case EqualTo(a, v) if isCol(a, src) && v.foldable =>
      Option(v.eval()).map(x => Seq((x, v.dataType)))
    case EqualTo(v, a) if isCol(a, src) && v.foldable =>
      Option(v.eval()).map(x => Seq((x, v.dataType)))
    case In(a, vs) if isCol(a, src) && vs.forall(_.foldable) =>
      val evaled = vs.map(v => (v.eval(), v.dataType))
      if (evaled.exists(_._1 == null)) None else Some(evaled)
    case InSet(a, vs) if isCol(a, src) =>
      if (vs.contains(null)) None else Some(vs.toSeq.map((_, a.dataType)))
    case _ => None
  }
}
