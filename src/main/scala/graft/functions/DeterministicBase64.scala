package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `deterministic_base64(seed, id)` — the reference's 500-random-bytes
  * payload (reference: DataGenerator.java:456,:466,:500) as a native
  * codegen'd Catalyst expression: a splitmix64 stream seeded by
  * (seed, id) fills `numBytes` bytes, encoded with the UNCHUNKED
  * `Base64.getEncoder` (exactly the encoder the reference uses — Spark's
  * `base64()` function is MIME/CRLF-chunked).
  *
  * Replaces the 8x sha512/unhex/translate column chain: one virtual call
  * per row inside whole-stage codegen, ~32 bytes of mixing per 8 output
  * bytes. splitmix64 is the public-domain mixer from Steele et al.,
  * "Fast Splittable Pseudorandom Number Generators" (OOPSLA 2014).
  */
case class DeterministicBase64(seed: Expression, id: Expression, numBytes: Int)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def left: Expression = seed
  override def right: Expression = id
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)

  override protected def nullSafeEval(s: Any, i: Any): Any =
    DeterministicBase64.gen(s.asInstanceOf[Long], i.asInstanceOf[Long], numBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, i) =>
      s"graft.functions.DeterministicBase64.gen($s, $i, $numBytes)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DeterministicBase64 =
    copy(seed = newLeft, id = newRight)
  override def prettyName: String = "deterministic_base64"
}

object DeterministicBase64 {

  /** splitmix64 step (public-domain mixer). */
  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Fill `n` deterministic bytes from (seed, id) and base64 them
    * (unchunked). Called from generated code — must stay public+static.
    */
  def gen(seed: Long, id: Long, n: Int): UTF8String = {
    val bytes = new Array[Byte](n)
    var state = mix(seed ^ java.lang.Long.rotateLeft(id, 32))
    var i = 0
    while (i < n) {
      state = mix(state)
      var w = state
      var j = 0
      while (j < 8 && i < n) {
        bytes(i) = (w & 0xff).toByte
        w >>>= 8
        i += 1
        j += 1
      }
    }
    // base64 output is ASCII, so its bytes are already the UTF-8 string
    UTF8String.fromBytes(java.util.Base64.getEncoder.encode(bytes))
  }

  /** Column API. */
  def deterministic_base64(seed: Column, id: Column, numBytes: Int): Column =
    GraftColumns.column(DeterministicBase64(
      GraftColumns.expression(seed.cast("long")),
      GraftColumns.expression(id.cast("long")), numBytes))
}
