package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, MapType}

/** Popcount of the intersection of two word-packed bitsets, each a
  * `map<bigint,bigint>` from word index to 64-bit mask whose keys are in
  * ascending order (graft masks are built with
  * `map_from_entries(sort_array(...))`, which guarantees this).
  *
  * Replaces the interpreted `aggregate(map_keys(a), 0, (acc, k) ->
  * acc + bit_count(a[k] & coalesce(b[k], 0)))` fold in the near-dup verify
  * step — that lambda is evaluated per CANDIDATE PAIR (millions of rows at
  * sf0.1, unbounded at corpus scale) outside whole-stage codegen, and each
  * `element_at` probe on MapData is a scan. This expression is a single
  * codegen'd merge over the two sorted key arrays: O(w_a + w_b) per pair,
  * no per-element lambda dispatch, identical integer result.
  *
  * Unsorted keys would silently undercount — the sortedness contract is the
  * producer's (asserted by the parity test against the fold).
  *
  * Null parity with the fold is exact: NULL when either map is NULL or when
  * any LEFT value slot is NULL (the fold reads every left value); a NULL
  * RIGHT value slot contributes nothing (the fold computes
  * `coalesce(element_at(b, k), 0)`, and `x & 0` adds no bits) — whether or
  * not the key is shared. Unreachable from the real mask producer (`bit_or`
  * slots are never null), but the contract matches the fold everywhere.
  */
case class BitsetIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case MapType(LongType, LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bitset_intersect expects (map<bigint,bigint>, map<bigint,bigint>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "bitset_intersect"

  // NULL on null inputs AND on null value slots (fold parity) — so nullable
  // even when both children are non-nullable maps
  override def nullable: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[MapData]
    val b = r.asInstanceOf[MapData]
    val ka = a.keyArray(); val va = a.valueArray()
    val kb = b.keyArray(); val vb = b.valueArray()
    val na = ka.numElements(); val nb = kb.numElements()
    // null parity with the fold this replaces: the fold reads EVERY value
    // of the left map (a NULL element poisons its sum to NULL) and the
    // right map's values only at shared keys
    var i = 0
    while (i < na) {
      if (va.isNullAt(i)) return null
      i += 1
    }
    i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = ka.getLong(i); val y = kb.getLong(j)
      if (x == y) {
        // fold parity: coalesce(b[k], 0) — a null right slot adds no bits
        if (!vb.isNullAt(j))
          c += java.lang.Long.bitCount(va.getLong(i) & vb.getLong(j))
        i += 1; j += 1
      } else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ka = ctx.freshName("ka"); val va = ctx.freshName("va")
      val kb = ctx.freshName("kb"); val vb = ctx.freshName("vb")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val c = ctx.freshName("c"); val anyNull = ctx.freshName("anyNull")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $ka = $a.keyArray();
         |org.apache.spark.sql.catalyst.util.ArrayData $va = $a.valueArray();
         |org.apache.spark.sql.catalyst.util.ArrayData $kb = $b.keyArray();
         |org.apache.spark.sql.catalyst.util.ArrayData $vb = $b.valueArray();
         |int $na = $ka.numElements(); int $nb = $kb.numElements();
         |boolean $anyNull = false;
         |for (int $i = 0; $i < $na; $i++) {
         |  if ($va.isNullAt($i)) { $anyNull = true; break; }
         |}
         |long $c = 0L;
         |if (!$anyNull) {
         |  int $i = 0; int $j = 0;
         |  while ($i < $na && $j < $nb) {
         |    long $x = $ka.getLong($i); long $y = $kb.getLong($j);
         |    if ($x == $y) {
         |      if (!$vb.isNullAt($j)) {
         |        $c += java.lang.Long.bitCount($va.getLong($i) & $vb.getLong($j));
         |      }
         |      $i++; $j++;
         |    } else if ($x < $y) { $i++; } else { $j++; }
         |  }
         |}
         |if ($anyNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $c;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BitsetFunctions {
  private[graft] val intersectBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => BitsetIntersectCount(a, b)
    case other => throw new IllegalArgumentException(
      s"bitset_intersect takes (map<bigint,bigint>, map<bigint,bigint>), got ${other.size} args")
  }

  /** Native merge-intersect popcount (`bitset_intersect`, installed by
    * [[graft.plans.GraftExtensions]]).
    */
  def bitsetIntersect(a: Column, b: Column): Column =
    call_function("bitset_intersect", a, b)
}
