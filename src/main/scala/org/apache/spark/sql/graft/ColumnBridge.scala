package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Bridge into the sql-private Column↔Expression conversions, for
  * registering custom Catalyst expressions as user-facing Columns (the
  * standard extension-library pattern).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A compiled kernel as a Column: `impl.fn(args…)` through Catalyst's
    * StaticInvoke, which generated code calls directly (static forwarder of
    * the Scala object; interpreted eval reflects the same method). The
    * result is null when any argument is null and never otherwise, so the
    * column is nullable exactly when an argument is. Argument Spark types
    * map to the method's JVM types (string → UTF8String, binary → byte[],
    * array → ArrayData, int/long/double → primitives); literal parameters
    * are passed as `lit(…)` columns.
    */
  def invoke(impl: AnyRef, fn: String, dt: DataType, args: Column*): Column =
    column(StaticInvoke(impl.getClass, dt, fn, args.map(expression), returnNullable = false))
}
