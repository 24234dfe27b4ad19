package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** Large literal-set membership as ONE expression node with a BOUNDED
  * string form.
  *
  * `Column.isin(vs: _*)` builds an `In` with one `Literal` child PER
  * VALUE: at census scale (the round-12 salted-join fix collects ~64k hot
  * keys at sf0.1) the 64k-node tree costs seconds in analysis/
  * optimization/shipping — measured 5× the whole query. Catalyst's own
  * `OptimizeIn` collapse to `InSet` does not save it either, because
  * `InSet.toString` renders EVERY value, and each AQE stage update and
  * SQL-listener event rebuilds multi-megabyte plan-description strings —
  * measured 3× the whole query even with the UI disabled.
  *
  * [[InLiteralSet]] is the fix at both ends: the values travel as a
  * single array literal collapsed at build time into one hash set, the
  * generated code is the same reference-object `contains` any
  * optimizer-produced `InSet` runs, and `toString` prints the set SIZE,
  * never the values, so plan descriptions stay bytes.
  *
  * Usage: `SetMembership.inLiteralSet(col("k"), lit(keys.toArray))` —
  * the second argument MUST be a foldable array whose element type
  * matches the column. Installed at session build by
  * [[graft.plans.GraftExtensions]] like every other native function.
  */
case class InLiteralSet(child: Expression, hset: Set[Any], elemDesc: String)
    extends UnaryExpression with Predicate {

  override def nullable: Boolean = child.nullable

  override def toString: String =
    s"graft_in_set($child, ${hset.size} $elemDesc values)"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else hset.contains(v)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("graftInSet", hset,
      "scala.collection.immutable.Set")
    nullSafeCodeGen(ctx, ev, c => {
      // box primitives explicitly — the set holds the boxed/catalyst
      // object form (UTF8String for strings) and Janino must not be
      // trusted to autobox
      val boxed = child.dataType match {
        case LongType    => s"java.lang.Long.valueOf($c)"
        case IntegerType => s"java.lang.Integer.valueOf($c)"
        case _           => c
      }
      s"${ev.value} = $setRef.contains($boxed);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SetMembership {

  private[graft] val inLiteralSetBuilder: Seq[Expression] => Expression = {
    case Seq(child, arr) if arr.foldable &&
        arr.dataType.isInstanceOf[ArrayType] =>
      val at = arr.dataType.asInstanceOf[ArrayType]
      val data = arr.eval(null).asInstanceOf[ArrayData]
      // toObjectArray yields INTERNAL catalyst values (UTF8String for
      // strings, boxed primitives for numerics) — the representation the
      // child's eval/codegen produces for the contains probe
      InLiteralSet(child, data.toObjectArray(at.elementType).toSet,
        at.elementType.simpleString)
    case other => throw new IllegalArgumentException(
      "graft_in_set takes (value, foldable array literal), got " +
        other.map(_.dataType.simpleString).mkString(", "))
  }

  /** Membership of `c` in the foldable array literal `values`
    * (`graft_in_set`, installed by [[graft.plans.GraftExtensions]]).
    */
  def inLiteralSet(c: Column, values: Column): Column =
    call_function("graft_in_set", c, values)
}
