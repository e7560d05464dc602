package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** A block of vectors packed for the exact 1-NN kernel: ids, lengths,
  * one flat float array (vector i at the sum of the lengths before
  * it) and each vector's norm over its full length, computed once by
  * [[Cosine.norm]]. The kernel widens the floats to double once per
  * block ([[Cosine.widen]]); the packed form stays float to keep the
  * shuffled pair rows half the size.
  */
final class VectorBlock {
  private val ids = new ArrayBuilder.ofLong
  private val lens = new ArrayBuilder.ofInt
  private val vecs = new ArrayBuilder.ofFloat
  private val norms = new ArrayBuilder.ofDouble

  def add(id: Long, v: ArrayData): Unit = {
    val w = Cosine.widen(v)
    ids += id; lens += w.length; vecs ++= v.toFloatArray()
    norms += Cosine.norm(w, 0, w.length)
  }

  def addAll(o: VectorBlock): Unit = {
    ids ++= o.ids.result(); lens ++= o.lens.result(); vecs ++= o.vecs.result()
    norms ++= o.norms.result()
  }

  def toRow: InternalRow = new GenericInternalRow(Array[Any](
    ArrayData.toArrayData(ids.result()), ArrayData.toArrayData(lens.result()),
    ArrayData.toArrayData(vecs.result()), ArrayData.toArrayData(norms.result())))

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + ids.length * 20 + vecs.length * 4)
    bb.putInt(ids.length).putInt(vecs.length)
    ids.result().foreach(x => bb.putLong(x)); lens.result().foreach(x => bb.putInt(x))
    norms.result().foreach(x => bb.putDouble(x)); vecs.result().foreach(x => bb.putFloat(x))
    bb.array()
  }
}

object VectorBlock {
  /** The packed block's SQL type, as [[PackVectors]] returns it. */
  val dataType: StructType = StructType(Seq(
    StructField("ids", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("lens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("vecs", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("norms", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def fromBytes(bytes: Array[Byte]): VectorBlock = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt; val floats = bb.getInt
    val b = new VectorBlock
    b.ids ++= Array.fill(n)(bb.getLong); b.lens ++= Array.fill(n)(bb.getInt)
    b.norms ++= Array.fill(n)(bb.getDouble); b.vecs ++= Array.fill(floats)(bb.getFloat)
    b
  }

  /** Scores every pair of a vector of `a` with a vector of `b` once
    * and offers it both ways, as the cosine is symmetric to the bit
    * (products and the norm product commute). Returns, for each vector
    * of both blocks, its best partner from the other block other than
    * itself (same id), ranked by [[TopKBuffer.before]]; a vector with
    * no such partner gives no row. Rows are (q_id, nn_id, cos). When
    * `diagonal`, `a` and `b` are the same block: each pair inside it is
    * scored once and each vector gets one row.
    */
  def nearest(a: InternalRow, b: InternalRow, diagonal: Boolean): Seq[InternalRow] = {
    val x = new Unpacked(a)
    val y = if (diagonal) x else new Unpacked(b)
    var i = 0
    while (i < x.n) {
      var j = if (diagonal) i + 1 else 0
      while (j < y.n) { offer(x, i, y, j, score(x, i, y, j)); j += 1 }
      i += 1
    }
    val out = Seq.newBuilder[InternalRow]
    x.emit(out)
    if (!diagonal) y.emit(out)
    out.result()
  }

  /** `graft_cosine` of x's vector i and y's vector j: a pair of equal
    * length divides by the packed norms, a pair of unequal length folds
    * both norms over the common prefix. */
  private def score(x: Unpacked, i: Int, y: Unpacked, j: Int): Double = {
    val xl = x.lens(i); val yl = y.lens(j); val xo = x.offs(i); val yo = y.offs(j)
    if (xl == yl) Cosine.combine(Cosine.dot(x.vecs, xo, y.vecs, yo, xl), x.norms(i), y.norms(j))
    else {
      val n = math.min(xl, yl)
      Cosine.combine(Cosine.dot(x.vecs, xo, y.vecs, yo, n), Cosine.norm(x.vecs, xo, n),
        Cosine.norm(y.vecs, yo, n))
    }
  }

  private def offer(x: Unpacked, i: Int, y: Unpacked, j: Int, s: Double): Unit =
    if (x.ids(i) != y.ids(j)) { x.offer(i, y.ids(j), s); y.offer(j, x.ids(i), s) }

  /** A packed block's arrays, with each vector's offset and its
    * running best partner. */
  private final class Unpacked(r: InternalRow) {
    val ids: Array[Long] = r.getArray(0).toLongArray()
    val lens: Array[Int] = r.getArray(1).toIntArray()
    val vecs: Array[Double] = Cosine.widen(r.getArray(2))
    val norms: Array[Double] = r.getArray(3).toDoubleArray()
    val n: Int = ids.length
    val offs: Array[Int] = lens.scanLeft(0)(_ + _)
    private val found = new Array[Boolean](n)
    private val bestScore = new Array[Double](n)
    private val bestId = new Array[Long](n)

    def offer(i: Int, id: Long, s: Double): Unit =
      if (!found(i) || TopKBuffer.before(s, id, bestScore(i), bestId(i))) {
        found(i) = true; bestScore(i) = s; bestId(i) = id
      }

    def emit(out: scala.collection.mutable.Growable[InternalRow]): Unit = {
      var i = 0
      while (i < n) {
        if (found(i)) out += new GenericInternalRow(Array[Any](ids(i), bestId(i), bestScore(i)))
        i += 1
      }
    }
  }
}

/** Aggregate `graft_pack_vectors(id, vec)` → one [[VectorBlock]] per
  * group: the packing step of the exact 1-NN. Rows with a null id or
  * vector are skipped. The order of vectors inside a block follows
  * merge order; the kernel's ranking is total, so it never shows.
  */
case class PackVectors(
    id: Expression,
    vec: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorBlock] {

  override def prettyName: String = "graft_pack_vectors"
  override def children: Seq[Expression] = Seq(id, vec)
  override def nullable: Boolean = false
  override def dataType: DataType = VectorBlock.dataType

  override def createAggregationBuffer(): VectorBlock = new VectorBlock

  override def update(buf: VectorBlock, input: InternalRow): VectorBlock = {
    val i = id.eval(input)
    val v = vec.eval(input)
    if (i != null && v != null)
      buf.add(i.asInstanceOf[Number].longValue(), v.asInstanceOf[ArrayData])
    buf
  }

  override def merge(buf: VectorBlock, other: VectorBlock): VectorBlock = {
    buf.addAll(other)
    buf
  }

  override def eval(buf: VectorBlock): Any = buf.toRow
  override def serialize(buf: VectorBlock): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): VectorBlock = VectorBlock.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): PackVectors =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PackVectors =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(id = cs(0), vec = cs(1))
}

/** Generator `graft_block_nn(a, b, diagonal)` over two packed blocks →
  * rows (q_id, nn_id, cos): each vector of either block with its best
  * partner in the other ([[VectorBlock.nearest]]). One call holds
  * exactly the two blocks of its pair row.
  */
case class BlockNearest(a: Expression, b: Expression, diagonal: Expression)
    extends Generator with CodegenFallback {

  override def prettyName: String = "graft_block_nn"
  override def children: Seq[Expression] = Seq(a, b, diagonal)
  override def elementSchema: StructType = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("nn_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val x = a.eval(input)
    val y = b.eval(input)
    val d = diagonal.eval(input)
    if (x == null || y == null || d == null) Nil
    else VectorBlock.nearest(x.asInstanceOf[InternalRow], y.asInstanceOf[InternalRow],
      d.asInstanceOf[Boolean])
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(a = cs(0), b = cs(1), diagonal = cs(2))
}
