package graft.functions


import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Content-defined chunk boundaries over a token array — the native form of
  * the FastCDC/rsync-family rule [[graft.operators.Dedup.cdcChunks]] pins:
  * cut after 1-based token position p >= 4 whenever the 31-weighted
  * polynomial over the 4-token window of portable token hashes ending at p
  * is divisible by 8 (expected chunk length ≈ 8 tokens); the doc end is
  * always a cut. The window width (4) and divisor (8) are deliberately
  * FIXED, not parameters — the DuckDB oracle (`cdcChunksSql`), the
  * plain-Scala property reference (GraftProperties' `refCdcChunkMd5s`) and
  * CdcSpec all pin this exact (4, mod 8) rule.
  *
  * A token's portable hash is the first 8 hex chars of its md5 parsed
  * base-16 ([[graft.operators.TextAnalysis.tokenHash]]); a chunk's identity
  * is `md5(concat_ws(" ", its tokens))` byte-for-byte (commons-codec
  * `md5Hex`, the digest Spark's own `md5` uses), so output is bit-equal to
  * the `aggregate`-fold formulation this replaces.
  *
  * Returns `array<struct<n_toks:bigint, chunk_md5:string>>` in chunk order
  * (chunk_idx = the posexplode position); empty for an empty token array.
  *
  * Why a native expression and not the one-pass `aggregate` HOF it
  * replaces: Catalyst HOF lambdas run INTERPRETED per element, and the
  * round-7 bench measured the fold at 6.3×/5.1× the single-thread DuckDB
  * comparator on `dedup_cdc_chunks`/`dedup_cdc_incremental` — the same
  * interpreted-per-element profile [[WinnowSpans]] was promoted for. One
  * expression visits each token exactly once imperatively: one md5 per
  * token + one md5 per chunk, zero per-element lambda dispatch.
  * CodegenFallback is deliberate — the expression runs once per DOCUMENT,
  * where eval dispatch is noise against the md5 work itself.
  */
case class CdcChunks(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks expects array<string>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n_toks", LongType, nullable = false),
      StructField("chunk_md5", StringType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "cdc_chunks"

  private val sep = ' '.toByte

  override protected def nullSafeEval(input: Any): Any = {
    // one digest instance per thread for the whole doc stream —
    // DigestUtils.md5Hex allocates a fresh MessageDigest per call, which
    // at one call per TOKEN dominated the boundary scan
    val md = CdcChunks.mdLocal.get()
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    // token bytes + portable hash, each computed exactly once. The hash is
    // the md5's first 4 bytes read big-endian unsigned — numerically
    // identical to parsing the first 8 hex chars base-16
    // (TextAnalysis.tokenHash), no hex string materialized. Null elements
    // are unreachable from TextAnalysis.tokens; treated as hash-0 empty
    // tokens for totality.
    val tb = new Array[Array[Byte]](n)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        tb(i) = toks.getUTF8String(i).getBytes
        md.reset()
        val d = md.digest(tb(i))
        th(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      }
      i += 1
    }
    // one chunk = tokens[start..end] joined by " "; md5 over the joined
    // bytes without materializing the string
    def chunkRow(start: Int, end: Int): InternalRow = {
      var len = 0
      var k = start
      while (k <= end) {
        val b = tb(k)
        if (b != null) len += b.length
        k += 1
      }
      val buf = new Array[Byte](len + (end - start))
      var off = 0
      k = start
      while (k <= end) {
        if (k > start) { buf(off) = sep; off += 1 }
        val b = tb(k)
        if (b != null) { System.arraycopy(b, 0, buf, off, b.length); off += b.length }
        k += 1
      }
      md.reset()
      InternalRow((end - start + 1).toLong,
        UTF8String.fromString(
          org.apache.commons.codec.binary.Hex.encodeHexString(md.digest(buf))))
    }
    val out = new java.util.ArrayList[Any](n / 8 + 4)
    var start = 0
    i = 0
    while (i < n) {
      // boundary after 1-based position p = i+1 when p >= 4 and the
      // window polynomial h(p) + 31·h(p−1) + 961·h(p−2) + 29791·h(p−3)
      // is divisible by 8 — identical to the fold's lag-carried form
      if (i >= 3 &&
          (th(i) + th(i - 1) * 31L + th(i - 2) * 961L + th(i - 3) * 29791L) % 8L == 0L) {
        out.add(chunkRow(start, i))
        start = i + 1
      }
      i += 1
    }
    if (start < n) out.add(chunkRow(start, n - 1))
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcChunks {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

object CdcFunctions {
  private[graft] val cdcBuilder: Seq[Expression] => Expression = {
    case Seq(a) => CdcChunks(a)
    case other => throw new IllegalArgumentException(
      s"cdc_chunks takes (array<string>), got ${other.size} args")
  }

  /** Native CDC chunk rows (`cdc_chunks`, installed by
    * [[graft.plans.GraftExtensions]]).
    */
  def cdcChunks(toks: Column): Column = call_function("cdc_chunks", toks)
}
