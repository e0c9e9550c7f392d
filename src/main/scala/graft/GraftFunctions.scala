package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{ExtractTextExpr, ExtractTextImpl}

/** SQL registration for the engine's compiled kernels, so
  * `spark.sql("SELECT extract_text(html) ...")` works alongside the Column
  * API (SURVEY.md §2 J policy #2: expressions registered via
  * FunctionRegistry).
  */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("extract_text"),
      new ExpressionInfo(ExtractTextImpl.getClass.getName.stripSuffix("$"), "extract_text"),
      (exprs: Seq[Expression]) =>
        ColumnBridge.expression(ExtractTextExpr(ColumnBridge.column(exprs.head))))
  }
}
