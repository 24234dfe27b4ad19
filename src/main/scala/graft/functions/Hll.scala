package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable HyperLogLog distinct-count sketches — the 100 TB distinct
  * story: build one small fixed-size sketch per partition / group / day,
  * union sketches across any axis later, and estimate at the end. Unlike
  * `approx_count_distinct` (whose sketch Spark keeps internal to one
  * aggregation), the sketch here is a first-class `binary` value that can be
  * stored in a table and re-aggregated incrementally — count Monday once,
  * never rescan it to get the weekly distinct.
  *
  * Standard HLL (Flajolet et al.): m = 2^p byte registers; a 64-bit xxhash
  * picks a register with its top p bits and the rank is the number of
  * leading zeros (+1) of the rest. Estimate = alpha_m * m^2 / sum(2^-reg),
  * with linear counting below 2.5m when empty registers remain. With a
  * 64-bit hash there is no practical upper-range correction. Relative
  * standard error ≈ 1.04/sqrt(m) (p=12 → ±1.6%).
  *
  * Register updates are element-wise max, so sketch-union is associative,
  * commutative, and idempotent: union(sketch(A), sketch(B)) has the exact
  * same registers as sketch(A ∪ B) — the merge test pins this equality, not
  * an approximation.
  */
object HllRegisters {
  val Seed = 42L

  def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  def add(regs: Array[Byte], hash: Long, p: Int): Unit = {
    val idx = (hash >>> (64 - p)).toInt
    val w = hash << p
    val rank =
      if (w == 0) 64 - p + 1
      else java.lang.Long.numberOfLeadingZeros(w) + 1
    if (rank > regs(idx)) regs(idx) = rank.toByte
  }

  /** In-place element-wise max of `b` into `a`. */
  def mergeInto(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length,
      s"cannot union HLL sketches of different precisions (${a.length} vs ${b.length} registers)")
    var i = 0
    while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  def estimate(regs: Array[Byte]): Double = {
    val m = regs.length
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = regs(i)
      sum += 1.0 / java.lang.Math.scalb(1.0, r)
      if (r == 0) zeros += 1
      i += 1
    }
    val e = alpha(m) * m.toDouble * m.toDouble / sum
    if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
  }

  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         DateType | TimestampType | TimestampNTZType |
         FloatType | DoubleType | StringType | BinaryType => true
    case _ => false
  }

  /** 64-bit value hash per supported input type (internal representations).
    * Seed-parameterized so other sketches (CMS) can derive independent hash
    * rows from the same type dispatch.
    */
  def hasher(dt: DataType, seed: Long = Seed): Any => Long = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      v => XXH64.hashLong(v.asInstanceOf[Long], seed)
    case IntegerType | DateType => v => XXH64.hashLong(v.asInstanceOf[Int].toLong, seed)
    case ShortType              => v => XXH64.hashLong(v.asInstanceOf[Short].toLong, seed)
    case ByteType               => v => XXH64.hashLong(v.asInstanceOf[Byte].toLong, seed)
    case BooleanType            => v => XXH64.hashLong(if (v.asInstanceOf[Boolean]) 1L else 0L, seed)
    case FloatType =>
      v => XXH64.hashLong(java.lang.Double.doubleToLongBits(v.asInstanceOf[Float].toDouble), seed)
    case DoubleType =>
      v => XXH64.hashLong(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), seed)
    case StringType => v => XXH64.hashUTF8String(v.asInstanceOf[UTF8String], seed)
    case BinaryType => v => {
      val b = v.asInstanceOf[Array[Byte]]
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
    }
    case other => throw new IllegalStateException(s"unsupported HLL input type $other")
  }
}

/** `hll_sketch(col, p)` — aggregate raw values into a 2^p-register sketch
  * (`binary`). Partial aggregation works like any built-in: partitions
  * build local sketches, the final merge is element-wise max.
  */
case class HllSketchAgg(
    child: Expression,
    precision: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  require(precision >= 4 && precision <= 18, s"precision must be in [4, 18], got $precision")

  override def checkInputDataTypes(): TypeCheckResult =
    if (HllRegisters.supported(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hll_sketch does not support ${child.dataType.sql} input")

  @transient private lazy val hashOf = HllRegisters.hasher(child.dataType)

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](1 << precision)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllRegisters.add(buf, hashOf(v), precision)
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    HllRegisters.mergeInto(a, b)

  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
}

/** `hll_union(sketchCol, p)` — aggregate already-built sketches by
  * element-wise max: the re-aggregation half of the mergeable story
  * (union yesterday's stored daily sketches without touching raw data).
  */
case class HllUnionAgg(
    child: Expression,
    precision: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  require(precision >= 4 && precision <= 18, s"precision must be in [4, 18], got $precision")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hll_union expects a binary sketch column, got ${other.sql}")
  }

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](1 << precision)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllRegisters.mergeInto(buf, v.asInstanceOf[Array[Byte]])
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    HllRegisters.mergeInto(a, b)

  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "hll_union"

  override def withNewMutableAggBufferOffset(newOffset: Int): HllUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllUnionAgg =
    copy(child = newChild)
}

/** `hll_estimate(sketch)` — scalar cardinality estimate of a sketch. */
case class HllEstimate(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hll_estimate expects a binary sketch column, got ${other.sql}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "hll_estimate"

  override protected def nullSafeEval(v: Any): Any =
    math.round(HllRegisters.estimate(v.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"java.lang.Math.round(graft.functions.HllRegisters.estimate($c))")

  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
}

/** Builders + Column-level API for the HLL family. */
object Hll {
  val DefaultPrecision = 12 // 4096 registers, rsd ~1.6%

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what precision must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  private[graft] val sketchBuilder: Seq[Expression] => Expression = {
    case Seq(c)    => HllSketchAgg(c, DefaultPrecision)
    case Seq(c, p) => HllSketchAgg(c, litInt(p, "hll_sketch"))
    case other => throw new IllegalArgumentException(
      s"hll_sketch takes (col[, precision]), got ${other.size} args")
  }
  private[graft] val unionBuilder: Seq[Expression] => Expression = {
    case Seq(c)    => HllUnionAgg(c, DefaultPrecision)
    case Seq(c, p) => HllUnionAgg(c, litInt(p, "hll_union"))
    case other => throw new IllegalArgumentException(
      s"hll_union takes (col[, precision]), got ${other.size} args")
  }
  private[graft] val estimateBuilder: Seq[Expression] => Expression = {
    case Seq(c) => HllEstimate(c)
    case other => throw new IllegalArgumentException(
      s"hll_estimate takes (sketch), got ${other.size} args")
  }

  def sketch(c: Column, p: Int = DefaultPrecision): Column =
    call_function("hll_sketch", c, lit(p))
  def union(c: Column, p: Int = DefaultPrecision): Column =
    call_function("hll_union", c, lit(p))
  def estimate(c: Column): Column = call_function("hll_estimate", c)
  def approxCountDistinct(c: Column, p: Int = DefaultPrecision): Column =
    estimate(sketch(c, p))
}
