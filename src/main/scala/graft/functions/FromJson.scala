package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, ObjectType}

/** `from_json(json, schema)` with Spark's own semantics (PERMISSIVE mode,
  * the session's corrupt-record column and time zone) that stays inside
  * whole-stage codegen.
  *
  * Spark's `JsonToStructs` is a `CodegenFallback`: `CollapseProject`
  * inlines everything below it (a generator, `to_json`) into its child,
  * so the whole subtree runs through interpreted `eval()`. This emits the
  * `Invoke(evaluator)` form Spark already uses for `to_json`
  * (`StructsToJson` is replaced by an invoke of `StructsToJsonEvaluator`):
  * the same `JsonToStructsEvaluator` `JsonToStructs` calls, built from
  * `SQLConf` the way `JsonToStructs` builds it, behind a codegen'd call.
  */
object FromJson {

  def from_json(json: Column, schema: DataType): Column = {
    val conf = SQLConf.get
    val nullableSchema = GraftColumns.asNullable(schema)
    val evaluator = JsonToStructsEvaluator(
      Map.empty, nullableSchema,
      conf.getConf(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD),
      Some(conf.sessionLocalTimeZone),
      conf.getConf(SQLConf.VARIANT_ALLOW_DUPLICATE_KEYS))
    GraftColumns.column(Invoke(
      Literal.create(evaluator, ObjectType(classOf[JsonToStructsEvaluator])),
      "evaluate", nullableSchema, Seq(GraftColumns.expression(json)),
      propagateNull = true, returnNullable = true))
  }
}
