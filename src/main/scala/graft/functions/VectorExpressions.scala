package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the embedding hot path (SURVEY §7.3
  * escape hatch (b): custom `Expression` where built-ins can't express the
  * semantics *efficiently*).
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` —
  * allocates an intermediate array per row and evaluates interpreted
  * (higher-order functions are CodegenFallback). For a 64-dim float
  * embedding scored against millions of candidates, that interpreter
  * round-trip dominates. `DotProductF` is a single fused loop with a
  * `doGenCode` implementation, so it stays inside whole-stage codegen with
  * zero allocation. Accumulation order is element order, matching the
  * composable form bit-for-bit.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused integer dot product over two long-array columns — exact,
  * order-independent accumulation for the quantized-embedding oracle
  * paths (same codegen rationale as [[DotProductF]]). */
case class DotProductL(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  override def prettyName: String = "dot_l"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All K squared-L2 distances from one subvector of a float-array column
  * to a subspace's K literal centroids, as one fused codegen node
  * returning `array<double>[K]` — the product-quantization kernel.
  *
  * The composable form is K×subDim literal-chain expressions per
  * subspace; at m=8, k=8 that is ~2,600 Catalyst nodes whose
  * analysis/codegen time dominates the query (measured: sim8 3.4 s warm
  * at sf0.1, almost all planning). This node keeps the tree at m nodes.
  * Accumulation order matches the chain form bit-for-bit: per centroid,
  * d² added in element order starting from 0.0.
  *
  * `centroids` is the K×subDim matrix flattened row-major
  * (ki*subDim + j) — a plan-time constant, like the LSH hyperplanes. */
case class PqSubDists(child: Expression, centroids: IndexedSeq[Double],
                      offset: Int, subDim: Int, k: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_sub_dists"

  @transient private lazy val cArr: Array[Double] = centroids.toArray

  override def nullSafeEval(a: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val out = new Array[Double](k)
    var ki = 0
    while (ki < k) {
      var acc = 0.0
      var j = 0
      while (j < subDim) {
        val d = vec.getFloat(offset + j).toDouble - cArr(ki * subDim + j)
        acc += d * d
        j += 1
      }
      out(ki) = acc
      ki += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("pqCentroids", cArr, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val ki = ctx.freshName("ki")
      val j = ctx.freshName("j")
      val out = ctx.freshName("out")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |double[] $out = new double[$k];
         |for (int $ki = 0; $ki < $k; $ki++) {
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $subDim; $j++) {
         |    double $d = (double) $a.getFloat($offset + $j)
         |      - $cRef[$ki * $subDim + $j];
         |    $acc += $d * $d;
         |  }
         |  $out[$ki] = $acc;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object VectorExpressions {
  /** Fused codegen dot product of two Array[Float] columns. */
  def dotF(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductF(
      ColumnBridge.expr(a), ColumnBridge.expr(b)))

  /** Fused exact dot product of two Array[Long] columns. */
  def dotL(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductL(
      ColumnBridge.expr(a), ColumnBridge.expr(b)))

  /** All K squared-L2 distances from `vec[offset, offset+subDim)` to the
    * row-major `centroids` matrix, as one codegen node (see
    * [[PqSubDists]]). */
  def pqSubDists(vec: Column, centroids: IndexedSeq[Double],
                 offset: Int, subDim: Int, k: Int): Column =
    ColumnBridge.column(PqSubDists(
      ColumnBridge.expr(vec), centroids, offset, subDim, k))
}
