package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Expression↔Column bridge for graft's custom codegen'd expressions
  * ([[graft.functions.VecDot]], [[graft.functions.ZRangeContains]]) and
  * for the SQL functions built from [[graft.geo.GeoCols]] Columns.
  *
  * Spark 4 moved expression-backed Column construction behind
  * `private[sql]` (`classic.ExpressionUtils`); the public alternative is
  * the session FunctionRegistry, which resolves at ANALYSIS time against
  * the DataFrame's session — a library API built on it fails on any
  * session without [[graft.plans.GraftExtensions]] installed. This shim
  * lives in `org.apache.spark.sql` purely to re-export the two
  * conversions (the established pattern for Spark-native libraries),
  * plus `asNullable`, the read schema a file relation gets from
  * `DataSource` ([[graft.table.SnapshotView.scan]] builds its relation
  * without one); it contains no logic. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  /** The Column's Catalyst tree, converted now: `ExpressionUtils`
    * defers the conversion to the Dataset that plans the Column, and the
    * SQL function builders ([[graft.plans.GraftExtensions]]) have none. */
  def expression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)
  def asNullable(s: StructType): StructType = s.asNullable
}
