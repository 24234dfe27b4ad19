package graft.functions

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Winnowed span fingerprints over a token array: the selected subset of
  * the doc's `spanW`-token window md5s under the public winnowing scheme
  * (Schleimer–Wilkerson–Aiken, SIGMOD'03 — the MOSS fingerprinter; the
  * same idea genomics calls minimizer sampling). A window hash is
  * SELECTED iff it equals the minimum of at least one group of `winW`
  * consecutive window hashes, which guarantees any duplicated span of
  * >= spanW + winW − 1 tokens still shares a selected fingerprint between
  * its copies, while expected selection density drops to 2/(winW+1).
  *
  * Returns `array<struct<start:bigint, span_md5:string>>` with `start`
  * 1-based (matching `sequence(1, …)` in the stride-1 spans query);
  * empty when the doc has fewer than `spanW` tokens. Hashes are
  * `md5(concat_ws(" ", slice(toks, start, spanW)))` byte-for-byte
  * (commons-codec `md5Hex`, the same digest Spark's own `md5` uses), so
  * winnowed output is a strict subset of the stride-1 window stream and
  * a DuckDB oracle can restate the rule over `string_split` + window
  * functions.
  *
  * Why a native expression and not built-in array HOFs: the rule needs
  * three chained array stages (window hashes → per-group minima →
  * max-of-covering-minima selection), and chained `transform` lambdas
  * that reference a prior projection's array get INLINED by projection
  * collapse — the whole upstream array expression re-evaluates per
  * element, turning an O(n·w) doc pass into O(n²·w) md5 work. One
  * expression evaluates its token-array child once per document row and
  * does the entire pass imperatively: O(n·spanW) bytes hashed +
  * O(n·winW) string compares. CodegenFallback is deliberate — the array
  * HOFs this replaces are CodegenFallback too, and the expression runs
  * once per DOCUMENT (not per candidate pair), where eval dispatch is
  * noise against the md5 work itself.
  *
  * Group clamping matches the declarative formulation the oracle uses:
  * groups j = 1..max(nh − winW + 1, 1) — a doc with fewer window hashes
  * than `winW` forms one whole-doc group, so its minimum is still
  * selected and short exact duplicates stay catchable.
  */
case class WinnowSpans(child: Expression, spanW: Int, winW: Int)
    extends UnaryExpression with CodegenFallback {

  require(spanW >= 1 && winW >= 1, s"winnow_spans: spanW=$spanW winW=$winW must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_spans expects array<string>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("start", LongType, nullable = false),
      StructField("span_md5", StringType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "winnow_spans"

  private val sep = ' '.toByte

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n < spanW) return new GenericArrayData(Array.empty[Any])
    // token bytes once; null elements skipped exactly as concat_ws skips
    // them (unreachable from TextAnalysis.tokens, kept for parity)
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tb(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
      i += 1
    }
    val nh = n - spanW + 1
    val hs = new Array[String](nh)
    i = 0
    while (i < nh) {
      var len = 0
      var k = 0
      var m = 0 // non-null tokens in window (concat_ws joins only these)
      while (k < spanW) {
        val b = tb(i + k)
        if (b != null) { len += b.length; m += 1 }
        k += 1
      }
      val buf = new Array[Byte](len + math.max(m - 1, 0))
      var off = 0
      var first = true
      k = 0
      while (k < spanW) {
        val b = tb(i + k)
        if (b != null) {
          if (!first) { buf(off) = sep; off += 1 }
          System.arraycopy(b, 0, buf, off, b.length)
          off += b.length
          first = false
        }
        k += 1
      }
      hs(i) = DigestUtils.md5Hex(buf)
      i += 1
    }
    // group minima: group j (0-based) covers hs[j .. j+winW-1]; maxj
    // clamps to 1 so a short doc still forms one whole-doc group
    val maxj = math.max(nh - winW + 1, 1)
    val wmin = new Array[String](maxj)
    var j = 0
    while (j < maxj) {
      var mn = hs(j)
      var k = j + 1
      val end = math.min(j + winW, nh)
      while (k < end) {
        if (hs(k).compareTo(mn) < 0) mn = hs(k)
        k += 1
      }
      wmin(j) = mn
      j += 1
    }
    // position i selected iff the max of covering group minima reaches
    // hs(i): every covering min is <= hs(i), so equality is exactly
    // "some covering group picked this value"
    val out = new java.util.ArrayList[Any](2 * nh / (winW + 1) + 4)
    i = 0
    while (i < nh) {
      val lo = math.max(i - winW + 1, 0)
      val hi = math.min(i, maxj - 1)
      var mx: String = null
      var g = lo
      while (g <= hi) {
        if (mx == null || wmin(g).compareTo(mx) > 0) mx = wmin(g)
        g += 1
      }
      if (mx != null && mx == hs(i)) {
        out.add(InternalRow((i + 1).toLong, UTF8String.fromString(hs(i))))
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFunctions {
  private[graft] val winnowBuilder: Seq[Expression] => Expression = {
    case Seq(a, s, w) if s.foldable && w.foldable =>
      WinnowSpans(a,
        s.eval().asInstanceOf[Number].intValue(),
        w.eval().asInstanceOf[Number].intValue())
    case other => throw new IllegalArgumentException(
      s"winnow_spans takes (array<string>, int literal, int literal), got ${other.size} args")
  }

  /** Native winnowed span fingerprints (`winnow_spans`, installed by
    * [[graft.plans.GraftExtensions]]).
    */
  def winnowSpans(toks: Column, spanW: Int, winW: Int): Column =
    call_function("winnow_spans", toks,
      org.apache.spark.sql.functions.lit(spanW),
      org.apache.spark.sql.functions.lit(winW))
}
