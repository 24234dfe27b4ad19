package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Squared L2 distance of two `array<double>` columns as a native Catalyst
  * expression with whole-stage codegen — the k-means assignment hot loop
  * ([[graft.operators.Similarity.kmeansAssign]] evaluates it k times per
  * row), replacing the interpreted `aggregate(zip_with(...))` fold.
  *
  * Accumulation is the same strict left-to-right order as the fold, so
  * results are bit-identical to the composed form (and to the DuckDB
  * oracle's `list_sum(list_transform(range(...), i -> (a[i]-b[i])^2))`) —
  * swapping this in cannot change any query's hash. NULL parity with the
  * fold: length-mismatched inputs yield NULL (zip_with null-pads, and
  * (x - null)² nulls the aggregate), as does any NULL element.
  */
case class SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq_dist expects (array<double>, array<double>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_dist"

  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null // fold parity: zip_with null-pads
    var s = 0.0
    var i = 0
    while (i < n) {
      // fold parity: a null element nulls the whole fold, not "reads as 0"
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val anyNull = ctx.freshName("anyNull")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  boolean $anyNull = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |  if ($anyNull) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $s;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Builder + Column access, mirroring [[VectorFunctions]]. */
object DistanceFunctions {
  private[graft] val sqDistBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SquaredDistance(a, b)
    case other => throw new IllegalArgumentException(
      s"sq_dist takes (array<double>, array<double>), got ${other.size} args")
  }

  /** Native codegen'd squared L2 (`sq_dist`, installed by
    * [[graft.plans.GraftExtensions]]).
    */
  def sqDist(a: Column, b: Column): Column = call_function("sq_dist", a, b)
}
