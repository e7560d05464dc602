package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The one cosine of graft: `graft_cosine` (interpreted and
  * generated) and the blocked exact-1-NN kernel ([[BlockNearest]])
  * all score through it, so they cannot drift apart.
  *
  * Floats are widened to double and folded sequentially in element
  * order, mirrored op-for-op by the DuckDB oracle SQL (list_transform
  * + list_sum in DOUBLE), so results are deterministic under any
  * partitioning. The score is `dot / (sqrt(na) * sqrt(nb))`. The dot
  * product and the two squared norms are three separate accumulators
  * that never mix, so a norm computed ahead of time has the same bits
  * as one folded beside the dot. No `Math.fma`: fusing would change
  * the bits.
  */
object Cosine {

  /** Σ x(xo+i)·y(yo+i) over i < n, one sequential double fold. */
  def dot(x: Array[Double], xo: Int, y: Array[Double], yo: Int, n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { s += x(xo + i) * y(yo + i); i += 1 }
    s
  }

  /** The norm of x's first n elements: the root of their squares' fold. */
  def norm(x: Array[Double], xo: Int, n: Int): Double = math.sqrt(dot(x, xo, x, xo, n))

  def combine(dot: Double, normA: Double, normB: Double): Double = dot / (normA * normB)

  /** Vectors of unequal length score over their common prefix: both
    * norms fold over the first min(|x|, |y|) elements only. */
  def of(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    combine(dot(x, 0, y, 0, n), norm(x, 0, n), norm(y, 0, n))
  }

  def of(x: ArrayData, y: ArrayData): Double = of(widen(x), widen(y))

  /** An `array<float>`'s elements widened to double. Widening is
    * exact, so a fold over the widened copy has the bits of a fold
    * that widens each float as it goes. Under JDK 17 a fold over
    * doubles runs about twice as fast as one converting each float
    * (64-dim vectors, measured on a 4-core Xeon). */
  def widen(a: ArrayData): Array[Double] = {
    val n = a.numElements()
    val w = new Array[Double](n)
    var i = 0
    while (i < n) { w(i) = a.getFloat(i).toDouble; i += 1 }
    w
  }
}

/** Vector math over `array<float>` embedding columns as native
  * Catalyst expressions with whole-stage codegen — the hot path of
  * similarity search runs millions of pairs, so this must stay inside
  * WholeStageCodegen (a Scala UDF would break the span and box every
  * row).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    Cosine.of(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${Cosine.getClass.getName}.MODULE$$.of($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product (same codegen shape; building block for IVF/LSH ANN). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Random-projection dimensionality reduction: projects an
  * `array<float>` embedding onto `outDims` deterministic
  * pseudo-random hyperplanes (the Johnson–Lindenstrauss map that
  * makes downstream ANN/cluster passes cheaper at 100 TB — shuffle
  * 8 doubles per vector instead of 64 floats). Plane component
  * (b, i) is [[HashUtil.unitComponent]](seed, b, i) — the SAME
  * family [[HyperplaneLsh]] signs — so the projection is a pure
  * function of (seed, b, i): no RNG state, no matrix broadcast, and
  * the DuckDB oracle inlines the identical constants. Accumulation
  * is the sequential i-ascending double fold mirrored left-to-right
  * by the oracle's list_reduce.
  */
case class RandomProjection(child: Expression, outDims: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_rand_proj"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Double](outDims)
    var b = 0
    while (b < outDims) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        proj += x.getFloat(i).toDouble * HashUtil.unitComponent(seed, b, i)
        i += 1
      }
      out(b) = proj
      b += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val hu = HashUtil.getClass.getName + ".MODULE$"
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val b = ctx.freshName("b"); val out = ctx.freshName("out")
      val proj = ctx.freshName("proj")
      s"""
         |int $n = $a.numElements();
         |double[] $out = new double[$outDims];
         |for (int $b = 0; $b < $outDims; $b++) {
         |  double $proj = 0.0;
         |  for (int $i = 0; $i < $n; $i++)
         |    $proj += (double) $a.getFloat($i) * $hu.unitComponent(${seed}L, $b, $i);
         |  $out[$b] = $proj;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Random-hyperplane LSH signature: `nBits` sign bits of projections
  * onto deterministic pseudo-random hyperplanes, packed into a long.
  * Hyperplane component (b, i) is derived from splitmix64(seed, b, i)
  * mapped to [-1, 1) — reproducible on any cluster, no RNG state.
  */
case class HyperplaneLsh(child: Expression, nBits: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var sig = 0L
    var b = 0
    while (b < nBits) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        proj += x.getFloat(i).toDouble * HashUtil.unitComponent(seed, b, i)
        i += 1
      }
      if (proj >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      // the Scala object's class is `HashUtil$` with static MODULE$ —
      // stripping the `$` pointed at the bare forwarder class and made
      // Janino reject every generated function containing this
      // expression (it ran interpreted since round 1)
      val hu = HashUtil.getClass.getName + ".MODULE$"
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val b = ctx.freshName("b"); val sig = ctx.freshName("sig")
      val proj = ctx.freshName("proj")
      s"""
         |int $n = $a.numElements();
         |long $sig = 0L;
         |for (int $b = 0; $b < $nBits; $b++) {
         |  double $proj = 0.0;
         |  for (int $i = 0; $i < $n; $i++)
         |    $proj += (double) $a.getFloat($i) * $hu.unitComponent(${seed}L, $b, $i);
         |  if ($proj >= 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
