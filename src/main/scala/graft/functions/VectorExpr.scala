package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Allocation-free vector kernels over `array<double>` columns.
  *
  * The HOF formulation (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is a
  * CodegenFallback: every element pays an interpreted lambda dispatch plus
  * a zipped intermediate array. These expressions compile to ONE static
  * call inside whole-stage codegen, iterating the unsafe array data
  * directly — same STRICTLY SEQUENTIAL summation order, so results stay
  * bit-identical to both the HOF form and the DuckDB oracle's
  * list_reduce (a parity spec asserts all three agree).
  */
object VectorKernels {
  /** Sequential dot product; null/length-mismatch handled by the caller
    * contract (fixture vectors are equal-length non-null).
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** cosine(a, b) with sequential dot and norms — one pass per array. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dab = 0.0
    var i = 0
    while (i < n) { dab += a.getDouble(i) * b.getDouble(i); i += 1 }
    var daa = 0.0
    i = 0
    val na = a.numElements()
    while (i < na) { val x = a.getDouble(i); daa += x * x; i += 1 }
    var dbb = 0.0
    i = 0
    val nb = b.numElements()
    while (i < nb) { val x = b.getDouble(i); dbb += x * x; i += 1 }
    dab / (math.sqrt(daa) * math.sqrt(dbb))
  }

  /** Index of the row of matrix `m` (array<array<double>>) with the
    * largest dot(v, m[i]); first index wins ties. One small loop nest —
    * the codegen'd form stays far under both Janino's and HotSpot's
    * method limits, unlike unrolling one dot-expression per centroid
    * (64 unrolled literal dots either fail Janino outright or compile
    * into a method too large for the JIT, which is 8x slower than
    * interpreted Catalyst — measured, see Similarity.ivfTopK).
    */
  def argmaxDot(v: ArrayData, m: ArrayData): Int = {
    val k = m.numElements()
    var best = -1
    var bestS = Double.NegativeInfinity
    var i = 0
    while (i < k) {
      val s = dot(v, m.getArray(i))
      if (s > bestS) { bestS = s; best = i }
      i += 1
    }
    best
  }
}

case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(l, r)
  override def prettyName: String = "dot_f64"
}

case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(l, r)
  override def prettyName: String = "cosine_sim"
}

case class ArgmaxDotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.argmaxDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.argmaxDot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgmaxDotExpr =
    copy(l, r)
  override def prettyName: String = "argmax_dot"
}

object VectorExpr {
  import org.apache.spark.sql.GraftColumnBridge
  def dot_f64(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSim(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def argmax_dot(v: Column, m: Column): Column =
    GraftColumnBridge.column(ArgmaxDotExpr(
      GraftColumnBridge.expression(v), GraftColumnBridge.expression(m)))
}
