package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column ↔ Expression converters —
  * the standard extension-point pattern for libraries that ship
  * custom Catalyst expressions (Spark 4 hides the Column(expr)
  * constructor behind the column-node API) — and into the two rules
  * a parquet read applies to what it lists and infers, so a relation
  * built from an existing listing reads what `spark.read` would.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Whether a file listing hides a path component (`_x`, `.x`). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
  /** `t` with every field, element and value nullable, as a file
    * source reads its data schema. */
  def asNullable(t: StructType): StructType = t.asNullable
}
