package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, ObjectType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(json, schema)` with Spark's own semantics (PERMISSIVE mode,
  * the session's corrupt-record column and time zone) that stays inside
  * whole-stage codegen.
  *
  * Spark's `JsonToStructs` is a `CodegenFallback`: `CollapseProject`
  * inlines everything below it (a generator, `to_json`) into its child,
  * so the whole subtree runs through interpreted `eval()`. This emits the
  * `Invoke(evaluator)` form Spark already uses for `to_json`
  * (`StructsToJson` is replaced by an invoke of `StructsToJsonEvaluator`)
  * behind a codegen'd call.
  *
  * The evaluator first reads the input in the one form `to_json` and the
  * reference producer's `JsonObject.toString()` write (see
  * [[FromJson.readCanonical]]) straight from its bytes, against the
  * declared schema. Every other input goes whole to the same
  * `JsonToStructsEvaluator` `JsonToStructs` calls, built from `SQLConf`
  * the way `JsonToStructs` builds it, so escapes, UTF-8 decoding, encoding
  * detection, PERMISSIVE partial rows, duplicate keys and trailing garbage
  * keep Spark's exact semantics.
  */
object FromJson {

  def from_json(json: Column, schema: DataType): Column = {
    val conf = SQLConf.get
    val nullableSchema = GraftColumns.asNullable(schema)
    val evaluator = Evaluator(nullableSchema, JsonToStructsEvaluator(
      Map.empty, nullableSchema,
      conf.getConf(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD),
      Some(conf.sessionLocalTimeZone),
      conf.getConf(SQLConf.VARIANT_ALLOW_DUPLICATE_KEYS)))
    GraftColumns.column(Invoke(
      Literal.create(evaluator, ObjectType(classOf[Evaluator])),
      "evaluate", nullableSchema, Seq(GraftColumns.expression(json)),
      propagateNull = true, returnNullable = true))
  }

  /** A case class, so plans holding it compare equal and subexpression
    * elimination works as with a bare `JsonToStructsEvaluator` literal.
    */
  case class Evaluator(schema: DataType, spark: JsonToStructsEvaluator) {
    @transient private lazy val root = compile(schema)

    def evaluate(json: UTF8String): Any = {
      val row = read(json, root)
      if (row != null) row else spark.evaluate(json)
    }
  }

  /** `json` read against `schema` when it is in the canonical form, else
    * null. The form: an object with no whitespace anywhere and nothing
    * after its closing brace; keys that are fields of the struct, each at
    * most once, in any order; values that are `null`, a string (for a
    * `StringType` field), an object (`StructType`) or an array
    * (`ArrayType`, elements by the same rule); strings of ASCII
    * `0x20..0x7F` with no `\` or `"`. Missing fields are null. It builds
    * the `GenericInternalRow`/`GenericArrayData` Spark's `JacksonParser`
    * builds. Any other byte, token or type rejects the whole input.
    */
  private[graft] def readCanonical(json: UTF8String, schema: DataType): InternalRow =
    read(json, compile(schema))

  private def read(json: UTF8String, root: Node): InternalRow = root match {
    case o: Obj =>
      val c = new Cursor(json.getBytes)
      if (!c.at('{')) null
      else c.obj(o) match {
        case row: InternalRow if c.i == c.b.length => row
        case _ => null
      }
    case _ => null
  }

  /** The schema as the reader walks it. A type the reader does not build
    * is `Other`, whose every value is rejected. So is a struct with
    * duplicate field names or existence defaults, whose rows Spark's field
    * lookup and default filling would build differently.
    */
  private sealed trait Node
  private final case class Obj(names: Array[Array[Byte]], fields: Array[Node]) extends Node {
    def indexOf(b: Array[Byte], from: Int, until: Int): Int = {
      var f = 0
      while (f < names.length && !Arrays.equals(names(f), 0, names(f).length, b, from, until)) f += 1
      if (f < names.length) f else -1
    }
  }
  private final case class Arr(elem: Node) extends Node
  private case object Str extends Node
  private case object Other extends Node

  private def compile(dt: DataType): Node = dt match {
    case st: StructType
        if st.fieldNames.distinct.length == st.length &&
          !st.fields.exists(_.metadata.contains("EXISTS_DEFAULT")) =>
      Obj(st.fieldNames.map(_.getBytes(UTF_8)), st.fields.map(f => compile(f.dataType)))
    case ArrayType(elem, _) => Arr(compile(elem))
    case StringType => Str
    case _ => Other
  }

  /** Marks a rejected value: `null` is a value the reader accepts. */
  private object Reject

  /** One input's read position; a new one per call. */
  private final class Cursor(val b: Array[Byte]) {
    var i = 0

    def at(c: Char): Boolean = i < b.length && b(i) == c

    private def value(n: Node): Any = n match {
      case Other => Reject
      case _ if i + 4 <= b.length && b(i) == 'n' && b(i + 1) == 'u' && b(i + 2) == 'l' &&
          b(i + 3) == 'l' =>
        i += 4
        null
      case Str if at('"') =>
        val start = quoted()
        if (start < 0) Reject else UTF8String.fromBytes(b, start, i - 1 - start)
      case o: Obj if at('{') => obj(o)
      case Arr(elem) if at('[') => arr(elem)
      case _ => Reject
    }

    /** At an opening quote: moves past the closing one and returns the
      * first byte of the string, or -1 on a byte below 0x20, above 0x7F
      * (negative as a JVM byte), a `\` or a missing closing quote.
      */
    private def quoted(): Int = {
      val start = i + 1
      var j = start
      while (j < b.length && b(j) >= 0x20 && b(j) != '"' && b(j) != '\\') j += 1
      if (j < b.length && b(j) == '"') { i = j + 1; start } else -1
    }

    def obj(o: Obj): Any = {
      i += 1
      val values = new Array[Any](o.fields.length)
      val seen = new Array[Boolean](o.fields.length)
      if (at('}')) { i += 1; return new GenericInternalRow(values) }
      while (true) {
        val key = if (at('"')) quoted() else -1
        val f = if (key < 0) -1 else o.indexOf(b, key, i - 1)
        if (f < 0 || seen(f) || !at(':')) return Reject
        seen(f) = true
        i += 1
        val v = value(o.fields(f))
        if (v.asInstanceOf[AnyRef] eq Reject) return Reject
        values(f) = v
        if (at('}')) { i += 1; return new GenericInternalRow(values) }
        if (!at(',')) return Reject
        i += 1
      }
      Reject
    }

    private def arr(elem: Node): Any = {
      i += 1
      val values = ArrayBuffer.empty[Any]
      if (at(']')) { i += 1; return new GenericArrayData(values.toArray) }
      while (true) {
        val v = value(elem)
        if (v.asInstanceOf[AnyRef] eq Reject) return Reject
        values += v
        if (at(']')) { i += 1; return new GenericArrayData(values.toArray) }
        if (!at(',')) return Reject
        i += 1
      }
      Reject
    }
  }
}
