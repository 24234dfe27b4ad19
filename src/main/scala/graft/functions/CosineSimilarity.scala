package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Cosine similarity of two `array<double>` columns as a native Catalyst
  * expression with whole-stage codegen: one fused loop computes the dot
  * product and both norms, replacing three interpreted higher-order folds
  * (`aggregate(zip_with(...))` + 2x `aggregate(transform(...))`).
  *
  * Accumulation order is the same strict left-to-right as the folds, so
  * results are bit-identical to the composed form (and to the DuckDB
  * oracle's `list_sum(list_transform(...))`) — swapping this in cannot
  * change any query's hash. Length-mismatched inputs yield NULL, matching
  * the fold (zip_with null-pads, nulling the whole aggregate), and so does
  * any NULL array element (the fold's `acc + null` poisons the aggregate to
  * NULL — this expression must not silently read such elements as 0.0).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<double>, array<double>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null // fold parity: zip_with null-pads
    var dot = 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < n) {
      // fold parity: a null element nulls the whole fold, not "reads as 0"
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; sa += x * x; sb += y * y; i += 1
    }
    dot / (math.sqrt(sa) * math.sqrt(sb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val sa = ctx.freshName("sa")
      val sb = ctx.freshName("sb")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val anyNull = ctx.freshName("anyNull")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $sa = 0.0; double $sb = 0.0;
         |  boolean $anyNull = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
         |    double x = $a.getDouble($i); double y = $b.getDouble($i);
         |    $dot += x * y; $sa += x * x; $sb += y * y;
         |  }
         |  if ($anyNull) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (Math.sqrt($sa) * Math.sqrt($sb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Builder + Column-level access for the native function. */
object VectorFunctions {
  private[graft] val cosineBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other => throw new IllegalArgumentException(
      s"cosine_sim takes (array<double>, array<double>), got ${other.size} args")
  }

  /** Native codegen'd cosine (`cosine_sim`, installed by
    * [[graft.plans.GraftExtensions]]).
    */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
}
