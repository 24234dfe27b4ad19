package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** K-minimum-values (KMV) distinct-count sketches — the mergeable distinct
  * estimator whose arithmetic is EXACTLY reproducible in plain SQL, which
  * HLL's register layout is not. A sketch is the K smallest distinct hash
  * values seen; merge = union + retruncate to K (associative, commutative,
  * idempotent); estimate = (K−1)·2⁶⁰ / θ where θ is the Kth smallest value
  * in the full sketch (Bar-Yossef et al. 2002; Beyer et al., SIGMOD 2007
  * "distinct-value synopses"), or the exact sketch size while it is not yet
  * full. Relative standard error ≈ 1/√(K−2).
  *
  * Two properties make KMV the right second distinct sketch next to
  * [[HllRegisters]]:
  *
  *  - **SQL-checkable**: "K smallest distinct hashes" is `row_number() ≤ K`
  *    and the estimate is one integer division — so the whole sketch path
  *    sits under the DuckDB hash-match oracle, not just an error-bound
  *    test. All arithmetic is integer (128-bit for the (K−1)·2⁶⁰ product:
  *    BigInt here, HUGEINT in the oracle), no float anywhere.
  *  - **Set algebra**: unlike HLL, a KMV pair supports INTERSECTION
  *    estimates: the K smallest of A ∪ B are an unbiased bottom-K sample
  *    of the union, so the fraction ρ of them present in both sketches
  *    estimates the Jaccard, and ρ·est(A∪B) the overlap (the
  *    audience-overlap / decontamination-rate query that plain distinct
  *    counts cannot answer without a quadratic join).
  *
  * The sketch hashes NOTHING itself: it aggregates an already-computed
  * 60-bit hash column, so callers pick the engine-portable hash (the repo
  * standard `conv(substring(md5(salt:key),1,15),16,10)`) and the oracle can
  * state the identical stream. Values must be in [0, 2⁶⁰); nulls ignored.
  *
  * Scale: a sketch is ≤ 8·K bytes (K=64 → 512 B). Partial aggregation
  * works like any built-in — partitions build local sketches, the shuffle
  * carries sketches not values, re-aggregation unions stored sketches
  * without touching raw data (count each day once, intersect any two
  * segments later).
  */
object KmvOps {
  /** 2^60 — the hash-space size of the md5-15-hex-digit portable hash. */
  val HashSpace: Long = 1L << 60

  def fromBytes(b: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val n = b.length / 8
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = bb.getLong(i * 8); i += 1 }
    out
  }

  def toBytes(a: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(a.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    a.foreach(bb.putLong)
    bb.array()
  }

  /** Distinct-sorted union of two sorted arrays, truncated to k. */
  def mergeSorted(a: Array[Long], b: Array[Long], k: Int): Array[Long] = {
    val out = new Array[Long](math.min(k, a.length + b.length))
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
      // skip duplicates of v on the other side
      while (i < a.length && a(i) == v) i += 1
      while (j < b.length && b(j) == v) j += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** (K−1)·2⁶⁰ / θ in 128-bit integer arithmetic (floor), or the exact
    * sketch size while the sketch is not full. Mirrors the oracle's
    * `CASE WHEN n < K THEN n ELSE (HUGEINT(K-1) * HUGEINT(2^60)) // theta`.
    */
  def estimateSorted(vals: Array[Long], k: Int): Long =
    if (vals.length < k) vals.length.toLong
    else ((BigInt(k - 1) * BigInt(HashSpace)) / BigInt(vals(k - 1))).toLong

  def estimate(sketch: Array[Byte], k: Int): Long =
    estimateSorted(fromBytes(sketch), k)

  def unionEst(a: Array[Byte], b: Array[Byte], k: Int): Long =
    estimateSorted(mergeSorted(fromBytes(a), fromBytes(b), k), k)

  /** Overlap estimate: the merged bottom-K is a uniform sample of A ∪ B;
    * ρ = (members present in BOTH sketches) / |merged| estimates the
    * Jaccard, so est(|A∩B|) = ⌊ρ · est(A∪B)⌋ = (c · estU) div n_u. When
    * the union sketch is not full this degrades gracefully to the EXACT
    * intersection count (both inputs are then complete sets).
    */
  def interEst(a: Array[Byte], b: Array[Byte], k: Int): Long = {
    val av = fromBytes(a); val bv = fromBytes(b)
    val u = mergeSorted(av, bv, k)
    if (u.length == 0) return 0L
    var c = 0L
    var i = 0
    while (i < u.length) {
      if (java.util.Arrays.binarySearch(av, u(i)) >= 0 &&
          java.util.Arrays.binarySearch(bv, u(i)) >= 0) c += 1
      i += 1
    }
    val estU = estimateSorted(u, k)
    (BigInt(c) * BigInt(estU) / BigInt(u.length)).toLong
  }

  /** Jaccard similarity estimate in micro-units: ⌊10⁶·c / n_u⌋. */
  def jaccardMicroEst(a: Array[Byte], b: Array[Byte], k: Int): Long = {
    val av = fromBytes(a); val bv = fromBytes(b)
    val u = mergeSorted(av, bv, k)
    if (u.length == 0) return 0L
    var c = 0L
    var i = 0
    while (i < u.length) {
      if (java.util.Arrays.binarySearch(av, u(i)) >= 0 &&
          java.util.Arrays.binarySearch(bv, u(i)) >= 0) c += 1
      i += 1
    }
    1000000L * c / u.length
  }
}

/** Shared buffer logic for the two KMV aggregates: a bounded sorted set of
  * the K smallest distinct longs.
  */
final class KmvBuffer(val k: Int) {
  val set = new java.util.TreeSet[java.lang.Long]()
  def add(v: Long): Unit = {
    if (set.size < k) { set.add(v); () }
    else if (v < set.last) {
      if (set.add(v)) { set.pollLast(); () }
    }
  }
  def addAll(vals: Array[Long]): Unit = vals.foreach(add)
  def toSortedArray: Array[Long] = {
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }
}

/** `kmv_sketch(hashCol, k)` — aggregate 60-bit hash values into the
  * K-smallest-distinct sketch (`binary`, sorted little-endian longs).
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvBuffer] with UnaryLike[Expression] {

  require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch expects an integer hash column, got ${other.sql}")
  }

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(a: KmvBuffer, b: KmvBuffer): KmvBuffer = {
    a.addAll(b.toSortedArray); a
  }

  override def eval(buf: KmvBuffer): Any = KmvOps.toBytes(buf.toSortedArray)
  override def serialize(buf: KmvBuffer): Array[Byte] =
    KmvOps.toBytes(buf.toSortedArray)
  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val b = new KmvBuffer(k)
    b.addAll(KmvOps.fromBytes(bytes))
    b
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketchAgg =
    copy(child = newChild)
}

/** `kmv_union(sketchCol, k)` — re-aggregate stored sketches (merge-only). */
case class KmvUnionAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvBuffer] with UnaryLike[Expression] {

  require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_union expects a binary sketch column, got ${other.sql}")
  }

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buf.addAll(KmvOps.fromBytes(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(a: KmvBuffer, b: KmvBuffer): KmvBuffer = {
    a.addAll(b.toSortedArray); a
  }

  override def eval(buf: KmvBuffer): Any = KmvOps.toBytes(buf.toSortedArray)
  override def serialize(buf: KmvBuffer): Array[Byte] =
    KmvOps.toBytes(buf.toSortedArray)
  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val b = new KmvBuffer(k)
    b.addAll(KmvOps.fromBytes(bytes))
    b
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_union"

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvUnionAgg =
    copy(child = newChild)
}

/** `kmv_estimate(sketch, k)` — distinct-count estimate of one sketch. */
case class KmvEstimate(child: Expression, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_estimate expects a binary sketch column, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "kmv_estimate"
  override protected def nullSafeEval(v: Any): Any =
    KmvOps.estimate(v.asInstanceOf[Array[Byte]], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.KmvOps.estimate($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): KmvEstimate =
    copy(child = newChild)
}

/** Base for the two-sketch estimators (union / intersection / jaccard). */
abstract class KmvPairEstimate extends BinaryExpression with BinaryLike[Expression] {
  def k: Int
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two binary sketches, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = LongType
  protected def opName: String
  override protected def nullSafeEval(a: Any, b: Any): Any = evalPair(
    a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  protected def evalPair(a: Array[Byte], b: Array[Byte]): Long
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.KmvOps.$opName($a, $b, $k)")
}

/** `kmv_union_est(a, b, k)` — distinct count of A ∪ B from two sketches. */
case class KmvUnionEstimate(left: Expression, right: Expression, k: Int)
    extends KmvPairEstimate {
  override def prettyName: String = "kmv_union_est"
  override protected def opName: String = "unionEst"
  override protected def evalPair(a: Array[Byte], b: Array[Byte]): Long =
    KmvOps.unionEst(a, b, k)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvUnionEstimate =
    copy(left = newLeft, right = newRight)
}

/** `kmv_inter_est(a, b, k)` — overlap |A ∩ B| estimate from two sketches. */
case class KmvInterEstimate(left: Expression, right: Expression, k: Int)
    extends KmvPairEstimate {
  override def prettyName: String = "kmv_inter_est"
  override protected def opName: String = "interEst"
  override protected def evalPair(a: Array[Byte], b: Array[Byte]): Long =
    KmvOps.interEst(a, b, k)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvInterEstimate =
    copy(left = newLeft, right = newRight)
}

/** `kmv_jaccard_micro(a, b, k)` — Jaccard estimate in micro-units. */
case class KmvJaccardMicro(left: Expression, right: Expression, k: Int)
    extends KmvPairEstimate {
  override def prettyName: String = "kmv_jaccard_micro"
  override protected def opName: String = "jaccardMicroEst"
  override protected def evalPair(a: Array[Byte], b: Array[Byte]): Long =
    KmvOps.jaccardMicroEst(a, b, k)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvJaccardMicro =
    copy(left = newLeft, right = newRight)
}

/** Builders + Column-level API for the KMV family. */
object Kmv {
  val DefaultK = 64

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what k must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  private[graft] val sketchBuilder: Seq[Expression] => Expression = {
    case Seq(c)    => KmvSketchAgg(c, DefaultK)
    case Seq(c, p) => KmvSketchAgg(c, litInt(p, "kmv_sketch"))
    case other => throw new IllegalArgumentException(
      s"kmv_sketch takes (hashCol[, k]), got ${other.size} args")
  }
  private[graft] val unionBuilder: Seq[Expression] => Expression = {
    case Seq(c)    => KmvUnionAgg(c, DefaultK)
    case Seq(c, p) => KmvUnionAgg(c, litInt(p, "kmv_union"))
    case other => throw new IllegalArgumentException(
      s"kmv_union takes (sketchCol[, k]), got ${other.size} args")
  }
  private[graft] val estimateBuilder: Seq[Expression] => Expression = {
    case Seq(c, p) => KmvEstimate(c, litInt(p, "kmv_estimate"))
    case other => throw new IllegalArgumentException(
      s"kmv_estimate takes (sketch, k), got ${other.size} args")
  }
  private[graft] val unionEstBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, p) => KmvUnionEstimate(a, b, litInt(p, "kmv_union_est"))
    case other => throw new IllegalArgumentException(
      s"kmv_union_est takes (a, b, k), got ${other.size} args")
  }
  private[graft] val interEstBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, p) => KmvInterEstimate(a, b, litInt(p, "kmv_inter_est"))
    case other => throw new IllegalArgumentException(
      s"kmv_inter_est takes (a, b, k), got ${other.size} args")
  }
  private[graft] val jaccardBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, p) => KmvJaccardMicro(a, b, litInt(p, "kmv_jaccard_micro"))
    case other => throw new IllegalArgumentException(
      s"kmv_jaccard_micro takes (a, b, k), got ${other.size} args")
  }

  def sketch(c: Column, k: Int = DefaultK): Column =
    call_function("kmv_sketch", c, lit(k))
  def union(c: Column, k: Int = DefaultK): Column =
    call_function("kmv_union", c, lit(k))
  def estimate(c: Column, k: Int = DefaultK): Column =
    call_function("kmv_estimate", c, lit(k))
  def unionEst(a: Column, b: Column, k: Int = DefaultK): Column =
    call_function("kmv_union_est", a, b, lit(k))
  def interEst(a: Column, b: Column, k: Int = DefaultK): Column =
    call_function("kmv_inter_est", a, b, lit(k))
  def jaccardMicro(a: Column, b: Column, k: Int = DefaultK): Column =
    call_function("kmv_jaccard_micro", a, b, lit(k))
}
