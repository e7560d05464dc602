package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: keeps the k best (score desc, id asc) pairs
  * under [[TopKBuffer.before]]. O(k) memory regardless of input size.
  */
final class TopKBuffer(val k: Int) {
  // the greatest element under best-first order is the worst kept, so
  // the max-heap's head is the one to evict
  private[functions] val heap =
    scala.collection.mutable.PriorityQueue.empty[(Double, Long)](TopKBuffer.bestFirst)

  def add(s: Double, id: Long): Unit = {
    if (heap.size < k) heap.enqueue((s, id))
    else {
      val (hs, hid) = heap.head
      if (TopKBuffer.before(s, id, hs, hid)) { heap.dequeue(); heap.enqueue((s, id)) }
    }
  }

  /** Best-first (score desc, id asc). */
  def sorted: Array[(Double, Long)] = heap.toArray.sorted(TopKBuffer.bestFirst)
}

/** The one ranking of graft's similarity scores: score desc, then id
  * asc. Scores compare as Spark's and DuckDB's sorts compare doubles —
  * NaN above every number and equal to itself, -0.0 equal to 0.0 — so
  * the order is total and a NaN score (the cosine of a zero vector)
  * cannot make the kept set depend on insertion order.
  */
object TopKBuffer {
  def compareScores(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** (s1, id1) ranks strictly before (s2, id2). */
  def before(s1: Double, id1: Long, s2: Double, id2: Long): Boolean = {
    val c = compareScores(s1, s2)
    c > 0 || (c == 0 && id1 < id2)
  }

  val bestFirst: Ordering[(Double, Long)] = (x, y) => {
    val c = compareScores(y._1, x._1)
    if (c != 0) c else java.lang.Long.compare(x._2, y._2)
  }
}

/** Aggregate `graft_topk(score, id, k)` → `array<struct<score,id>>`
  * sorted best-first.
  *
  * The scale story for top-k similarity search: with partial
  * aggregation, each map task forwards at most k (score, id) pairs per
  * group instead of its whole score set — a window/row_number plan
  * shuffles and sorts |corpus|×|queries| rows, this shuffles
  * |maptasks|×k. Deterministic under any partitioning (merge order
  * cannot change the k best with total-order tie-breaking).
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, "k must be positive")

  override def prettyName: String = "graft_topk"
  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    other.heap.foreach { case (s, i) => buf.add(s, i) }
    buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData(buf.sorted.map { case (s, i) =>
      new GenericInternalRow(Array[Any](s, i))
    })

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val items = buf.sorted
    val bb = ByteBuffer.allocate(4 + items.length * 16)
    bb.putInt(items.length)
    items.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    (0 until n).foreach(_ => buf.add(bb.getDouble, bb.getLong))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScore =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(score = cs(0), id = cs(1))
}

/** Bounded top-k buffer with STRING payloads: k best (score desc,
  * tag asc) pairs, scores ranked by [[TopKBuffer.compareScores]].
  * O(k) memory.
  */
final class TopKStrBuffer(val k: Int) {
  private[functions] val heap =
    scala.collection.mutable.PriorityQueue.empty[(Double, String)](TopKStrBuffer.bestFirst)

  def add(s: Double, t: String): Unit = {
    if (heap.size < k) heap.enqueue((s, t))
    else if (TopKStrBuffer.bestFirst.lt((s, t), heap.head)) { heap.dequeue(); heap.enqueue((s, t)) }
  }

  def sorted: Array[(Double, String)] = heap.toArray.sorted(TopKStrBuffer.bestFirst)
}

object TopKStrBuffer {
  val bestFirst: Ordering[(Double, String)] = (x, y) => {
    val c = TopKBuffer.compareScores(y._1, x._1)
    if (c != 0) c else x._2.compareTo(y._2)
  }
}

/** Aggregate `graft_topk_str(score, tag, k)` →
  * `array<struct<score,tag>>` best-first: heavy-hitters / top-terms
  * per group WITHOUT a per-group window sort. Same partial-agg scale
  * story as [[TopKByScore]] — each map task forwards ≤k pairs per
  * group, where a row_number window shuffles and sorts every row of
  * every group. Deterministic via total-order (score desc, tag asc)
  * tie-breaking.
  */
case class TopKStrings(
    score: Expression,
    tag: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKStrBuffer] {

  require(k > 0, "k must be positive")

  override def prettyName: String = "graft_topk_str"
  override def children: Seq[Expression] = Seq(score, tag)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("tag", StringType))),
    containsNull = false)

  override def createAggregationBuffer(): TopKStrBuffer = new TopKStrBuffer(k)

  override def update(buf: TopKStrBuffer, input: InternalRow): TopKStrBuffer = {
    val s = score.eval(input)
    val t = tag.eval(input)
    if (s != null && t != null)
      buf.add(s.asInstanceOf[Double], t.toString)
    buf
  }

  override def merge(buf: TopKStrBuffer, other: TopKStrBuffer): TopKStrBuffer = {
    other.heap.foreach { case (s, t) => buf.add(s, t) }
    buf
  }

  override def eval(buf: TopKStrBuffer): Any =
    new GenericArrayData(buf.sorted.map { case (s, t) =>
      new GenericInternalRow(Array[Any](s, org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    })

  override def serialize(buf: TopKStrBuffer): Array[Byte] = {
    val items = buf.sorted
    val enc = items.map { case (s, t) => (s, t.getBytes("UTF-8")) }
    val bb = ByteBuffer.allocate(4 + enc.map(12 + _._2.length).sum)
    bb.putInt(enc.length)
    enc.foreach { case (s, tb) => bb.putDouble(s); bb.putInt(tb.length); bb.put(tb) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKStrBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKStrBuffer(k)
    (0 until n).foreach { _ =>
      val s = bb.getDouble
      val len = bb.getInt
      val tb = new Array[Byte](len)
      bb.get(tb)
      buf.add(s, new String(tb, "UTF-8"))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKStrings =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKStrings =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(score = cs(0), tag = cs(1))
}
