package org.apache.spark.sql

import org.apache.spark.executor.InputMetrics
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.JdbcDialect
import org.apache.spark.sql.types.StructType

/** Column <-> catalyst Expression bridge for graft's native
  * expressions. Spark 4 moved this conversion behind
  * `private[sql] classic.ExpressionUtils`; a one-object shim in the
  * `org.apache.spark.sql` package is the established pattern for
  * extension libraries that ship custom codegen expressions without
  * registering a whole SparkSessionExtensions function catalog. The
  * graft-jdbc source decodes its rows through the same shim.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Recursive ColumnNode → catalyst conversion. `expression` wraps
    * the whole node tree in a lazily-converted `ColumnNodeExpression`
    * — fine inside Dataset operations (the session converter unwraps
    * it during analysis) but OPAQUE when the expression is injected
    * straight into a SQL plan via the function registry, where it
    * survives to codegen unevaluable. This converts eagerly, so
    * builder-composed Columns (e.g. the graft_canonical_url /
    * graft_gopher SQL faces) become ordinary catalyst trees the
    * analyzer resolves like any parsed SQL.
    */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Spark's own JDBC row decoder (`private[spark]`), the one behind
    * `spark.read.jdbc`: each column through the dialect's getter for
    * its Catalyst type. The records-read count goes to a throwaway
    * `InputMetrics`, because a DataSource V2 scan's `DataSourceRDD`
    * already counts every row into the task's own.
    */
  def jdbcRows(rs: java.sql.ResultSet, dialect: JdbcDialect,
      schema: StructType): Iterator[InternalRow] =
    JdbcUtils.resultSetToSparkInternalRows(rs, dialect, schema,
      new InputMetrics)
}
