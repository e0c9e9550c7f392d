package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Compiled vector kernels for the similarity operators.
  *
  * The Column-HOF formulation (`aggregate`+`zip_with`) evaluates interpreted
  * with one boxed Double per element per row — on a bucketed self-join that
  * is hundreds of millions of allocations per run, and measured wall-clock
  * degraded 4-10× as the session aged (GC pressure). These kernels run the
  * same left-to-right folds as tight compiled loops invoked from generated
  * code. Unlike the other kernels (which enter the plan through
  * `ColumnBridge.invoke`), these stay custom Expressions: the generated call
  * passes whether each array holds floats or doubles, read from the ANALYZED
  * child type, which a call fixed when the Column is built cannot see.
  *
  * EXACTNESS: the fold order is identical to both the HOF formulation they
  * replace and the DuckDB `list_reduce` twins — acc + a(i)·b(i) ascending —
  * so every oracle-compared double is bit-for-bit unchanged.
  */
object VecImpl {

  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  def sumSq(a: ArrayData, aFloat: Boolean): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x
      i += 1
    }
    acc
  }
}

/** Σ a[i]·b[i], elements in index order (twin of aggregate(zip_with(...))). */
case class DotExpr(l: Expression, r: Expression) extends BinaryExpression {
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def left: Expression = l
  override def right: Expression = r
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    VecImpl.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], isFloat(l), isFloat(r))

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecImpl.dot($a, $b, ${isFloat(l)}, ${isFloat(r)})")

  protected override def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotExpr =
    copy(l = newLeft, r = newRight)
}

/** Σ a[i]², elements in index order (inner sum of the l2 norm). */
case class SumSqExpr(child: Expression) extends UnaryExpression {
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_sumsq"

  protected override def nullSafeEval(a: Any): Any =
    VecImpl.sumSq(a.asInstanceOf[ArrayData], isFloat)

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecImpl.sumSq($a, $isFloat)")

  protected override def withNewChildInternal(newChild: Expression): SumSqExpr =
    copy(child = newChild)
}

object Vec {
  import org.apache.spark.sql.graft.ColumnBridge

  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def sumSq(a: Column): Column =
    ColumnBridge.column(SumSqExpr(ColumnBridge.expression(a)))
}
