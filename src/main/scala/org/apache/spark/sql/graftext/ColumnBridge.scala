package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Bridge to the `private[sql]` Expression↔Column converters — the
  * standard extension-point technique for libraries that ship custom
  * Catalyst expressions (same access path `spark-protobuf` et al. use
  * from inside the sql package). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Equal types up to nullability and struct field names. */
  def sameShape(t: DataType, other: DataType): Boolean =
    DataType.equalsStructurally(t, other, ignoreNullability = true)
}
