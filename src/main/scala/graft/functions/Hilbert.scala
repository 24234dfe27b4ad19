package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index — the locality-preserving alternative to the
  * Morton/z-order interleave in [[graft.operators.Layout]]. Both map a 2-D
  * cell grid onto a line so that range-partitioning the line gives every
  * file a small bounding box; Hilbert's defining advantage is that
  * CONSECUTIVE indices are always grid-adjacent (Morton jumps across the
  * plane at power-of-two seams), so equal index ranges have ~25–30%
  * smaller bounding-box perimeter on average — fewer files overlap a
  * query box, better pruning at the same file count (the reason
  * Delta/Iceberg added Hilbert next to z-order).
  *
  * The index is the standard iterated quadrant-rotate walk (the xy2d
  * recipe of Hamilton's compact Hilbert indices / Wikipedia's public
  * pseudocode): per bit level s, take quadrant (rx, ry), add s²·((3·rx)⊕ry)
  * to the index, and rotate/reflect the lower levels. A bits-level loop
  * over longs — implemented as ONE native codegen'd expression
  * (a static JVM call in whole-stage codegen) rather than an unrolled
  * Column chain: 12 rounds of when/otherwise would either defeat
  * CollapseProject or blow the expression tree up exponentially. The
  * DuckDB oracle states the identical rounds as an unrolled subquery
  * chain, so the hash match pins the arithmetic bit-for-bit.
  */
object HilbertOps {
  /** xy2d: x, y must lie in [0, 2^bits). Pure integer arithmetic. */
  def hilbert(x: Long, y: Long, bits: Int): Long = {
    var hx = x
    var hy = y
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((hx & s) > 0) 1L else 0L
      val ry = if ((hy & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate the lower quadrant so the walk stays continuous
      if (ry == 0L) {
        if (rx == 1L) {
          hx = s - 1 - hx
          hy = s - 1 - hy
        }
        val t = hx; hx = hy; hy = t
      }
      s >>= 1
    }
    d
  }
}

/** `hilbert_index(x, y, bits)` — 2-D Hilbert index of a grid cell. */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression with BinaryLike[Expression] {

  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert_index expects two bigint grid coordinates, got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_index"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    HilbertOps.hilbert(x.asInstanceOf[Long], y.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.HilbertOps.hilbert($x, $y, $bits)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

object Hilbert {
  /** Default bits per dimension — matches [[graft.operators.Layout.Bits]]. */
  val Bits = 12

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what bits must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  private[graft] val indexBuilder: Seq[Expression] => Expression = {
    case Seq(x, y)    => HilbertIndex(x, y, Bits)
    case Seq(x, y, b) => HilbertIndex(x, y, litInt(b, "hilbert_index"))
    case other => throw new IllegalArgumentException(
      s"hilbert_index takes (x, y[, bits]), got ${other.size} args")
  }

  /** Native Hilbert index (`hilbert_index`, installed by
    * [[graft.plans.GraftExtensions]]).
    */
  def index(x: Column, y: Column, bits: Int = Bits): Column =
    call_function("hilbert_index", x, y, lit(bits))

  /** The oracle twin: the same per-level rounds as an unrolled DuckDB
    * subquery chain over columns named (hx, hy, hd). `from` must provide
    * BIGINT hx, hy in [0, 2^bits). Exposed so query oracles and specs
    * state ONE generated SQL, not hand-copied rounds.
    */
  def oracleSql(from: String, bits: Int = Bits): String = {
    val base = s"SELECT hx, hy, CAST(0 AS BIGINT) AS hd FROM $from"
    (bits - 1 to 0 by -1).foldLeft(base) { (prev, i) =>
      val s = 1L << i
      s"""SELECT
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $s - 1 - hy ELSE hy END
         |       ELSE hx END AS hx,
         |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN $s - 1 - hx ELSE hx END
         |       ELSE hy END AS hy,
         |  hd + ${s * s} * xor(3 * rx, ry) AS hd
         |FROM (SELECT hx, hy, hd,
         |        CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |        CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
         |      FROM ($prev))""".stripMargin
    }
  }
}
