package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.Platform

/** A constant binary value — a collected sketch or filter — carried in a
  * plan as ONE leaf whose string form is bounded: the name, the byte
  * length and a content digest, never the bytes.
  *
  * A binary `Literal` prints its full hex in every plan string, and under
  * AQE each stage update re-renders the whole `QueryExecution` (parsed,
  * analyzed, optimized and physical plans) on the driver thread: a 4 MiB
  * CMS sketch became a 33.5 M-character string built again after every
  * stage (`cms_heavy_hitters` at sf0.01). [[InLiteralSet]] is the same fix
  * for large `IN` sets.
  *
  * The node is deliberately NOT foldable — `ConstantFolding` would turn it
  * straight back into a `Literal`. `eval` hands out the one array
  * reference, so the reference-keyed decode caches of [[BloomContains]] and
  * [[CmsQuery]] hit exactly as they did on a `Literal`, and the generated
  * code is Literal's own binary codegen (a `references` slot named
  * `literal`): the source stays byte-identical and the compiled class
  * cache keeps hitting. Equality is by content, digest first.
  */
case class ConstBytes(name: String, bytes: Array[Byte]) extends LeafExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  @transient private lazy val digest: Long =
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 0L)

  override def eval(input: InternalRow): Any = bytes

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode.forNonNullValue(
      JavaCode.global(ctx.addReferenceObj("literal", bytes, "byte[]"), dataType))

  override def toString: String = f"$name<${bytes.length} B xxh64=$digest%016x>"
  override def sql: String = toString

  override def equals(other: Any): Boolean = other match {
    case c: ConstBytes => (c eq this) || (name == c.name && digest == c.digest &&
      java.util.Arrays.equals(bytes, c.bytes))
    case _ => false
  }
  override def hashCode: Int = java.lang.Long.hashCode(digest)
}

object ConstBytes {

  /** `e` as a [[ConstBytes]] named `name` when it is a foldable, non-null
    * binary (a collected sketch passed as `lit(bytes)`); any other
    * argument — a sketch column, a per-row choice of sketches — is
    * returned unchanged.
    */
  def fold(name: String, e: Expression): Expression =
    if (e.foldable && e.dataType == BinaryType) e.eval() match {
      case b: Array[Byte] => ConstBytes(name, b)
      case _ => e
    } else e
}
