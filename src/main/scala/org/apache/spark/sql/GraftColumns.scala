package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.DataType

/** Bridge into the classic Column <-> Expression conversion, which Spark 4
  * moved behind `private[sql]` (Column is a ColumnNode wrapper since 4.0).
  * Standard extension-library technique: expose the two conversions from
  * inside the `org.apache.spark.sql` package.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `DataType.asNullable` (private[spark]): the output type `from_json`
    * forces on its declared schema.
    */
  def asNullable(dt: DataType): DataType = dt.asNullable

  /** Stable identity of a live session (private[sql] in Spark 4): used to
    * scope per-session driver-side caches so a restarted session can never
    * see another session's checkpoint-backed handles.
    */
  def sessionUUID(s: SparkSession): Option[String] = s match {
    case c: classic.SparkSession => Some(c.sessionUUID)
    case _ => None
  }
}
