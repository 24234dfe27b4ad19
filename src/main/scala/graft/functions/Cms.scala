package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Mergeable Count-Min sketches — the heavy-hitter / frequency companion to
  * the HLL distinct story: build one small fixed-size frequency sketch per
  * partition / group / day, SUM-merge sketches across any axis later, and
  * point-query counts at the end, without ever re-scanning raw data. The
  * natural primitive for token/domain/url frequency surveillance over a
  * 100 TB corpus where an exact groupBy on the full key space is the
  * bottleneck.
  *
  * Standard CMS (Cormode & Muthukrishnan): a depth×width matrix of long
  * counters; row i increments cell `floorMod(h1 + i*h2, width)`
  * (Kirsch–Mitzenmacher double hashing over the XXH64 value hashes, h2
  * forced odd). A point query takes the MIN over rows — always an upper
  * bound on the true count, within `e·N/width` of it with probability
  * `1 - e^-depth`.
  *
  * Merging is element-wise SUM, so sketch-merge is associative and
  * commutative, and `merge(sketch(A), sketch(B))` has byte-identical
  * counters to `sketch(A ++ B)` — the spec pins that equality exactly, like
  * the HLL register-equality test.
  *
  * Sketch bytes are self-describing: `[depth:int][width:int]` header then
  * the row-major counters, so a stored sketch can be validated and queried
  * without out-of-band metadata.
  */
object CmsSketch {
  val SeedA = 0x9e3779b9L
  val SeedB = 0x85ebca6bL

  def numCells(depth: Int, width: Int): Int = depth * width

  def emptyBuffer(depth: Int, width: Int): Array[Long] =
    new Array[Long](numCells(depth, width))

  /** Row cell index via Kirsch–Mitzenmacher double hashing. */
  def cell(h1: Long, h2: Long, row: Int, width: Int): Int =
    java.lang.Math.floorMod(h1 + row.toLong * h2, width.toLong).toInt

  def add(buf: Array[Long], h1: Long, h2: Long, depth: Int, width: Int): Unit = {
    var i = 0
    while (i < depth) {
      buf(i * width + cell(h1, h2, i, width)) += 1L
      i += 1
    }
  }

  def query(buf: Array[Long], h1: Long, h2: Long, depth: Int, width: Int): Long = {
    var min = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = buf(i * width + cell(h1, h2, i, width))
      if (c < min) min = c
      i += 1
    }
    min
  }

  /** In-place element-wise sum of `b` into `a`. */
  def mergeInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length,
      s"cannot merge CMS sketches of different shapes (${a.length} vs ${b.length} cells)")
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** [depth][width] header + row-major counters, big-endian. */
  def serialize(buf: Array[Long], depth: Int, width: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * buf.length)
    bb.putInt(depth).putInt(width)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  /** (depth, width, counters) from sketch bytes, shape-validated. */
  def deserialize(bytes: Array[Byte]): (Int, Int, Array[Long]) = {
    require(bytes.length >= 8, s"CMS sketch too short: ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val depth = bb.getInt()
    val width = bb.getInt()
    require(depth > 0 && width > 0 && bytes.length == 8 + 8 * depth * width,
      s"corrupt CMS sketch: depth=$depth width=$width len=${bytes.length}")
    val buf = new Array[Long](depth * width)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong(); i += 1 }
    (depth, width, buf)
  }

  /** (h1, h2) value hashes; h2 forced odd so rows stay independent mod any
    * width.
    */
  def hashers(dt: DataType): (Any => Long, Any => Long) = {
    val a = HllRegisters.hasher(dt, SeedA)
    val b = HllRegisters.hasher(dt, SeedB)
    (a, v => b(v) | 1L)
  }
}

/** `cms_sketch(col, depth, width)` — aggregate raw values into a Count-Min
  * frequency sketch (`binary`). Partials build local matrices; the final
  * merge is element-wise sum.
  */
case class CmsSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(depth >= 1 && depth <= 16, s"depth must be in [1, 16], got $depth")
  require(width >= 8 && width <= (1 << 24), s"width must be in [8, 2^24], got $width")

  override def checkInputDataTypes(): TypeCheckResult =
    if (HllRegisters.supported(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms_sketch does not support ${child.dataType.sql} input")

  @transient private lazy val (h1, h2) = CmsSketch.hashers(child.dataType)

  override def createAggregationBuffer(): Array[Long] =
    CmsSketch.emptyBuffer(depth, width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) CmsSketch.add(buf, h1(v), h2(v), depth, width)
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    CmsSketch.mergeInto(a, b)

  override def eval(buf: Array[Long]): Any = CmsSketch.serialize(buf, depth, width)
  override def serialize(buf: Array[Long]): Array[Byte] =
    CmsSketch.serialize(buf, depth, width)
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val (d, w, buf) = CmsSketch.deserialize(bytes)
    require(d == depth && w == width,
      s"sketch shape ($d x $w) does not match aggregate shape ($depth x $width)")
    buf
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketchAgg =
    copy(child = newChild)
}

/** `cms_merge(sketchCol, depth, width)` — aggregate stored sketches by
  * element-wise sum: the re-aggregation half of the mergeable story.
  */
case class CmsMergeAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(depth >= 1 && depth <= 16, s"depth must be in [1, 16], got $depth")
  require(width >= 8 && width <= (1 << 24), s"width must be in [8, 2^24], got $width")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_merge expects a binary sketch column, got ${other.sql}")
  }

  override def createAggregationBuffer(): Array[Long] =
    CmsSketch.emptyBuffer(depth, width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val (d, w, in) = CmsSketch.deserialize(v.asInstanceOf[Array[Byte]])
      require(d == depth && w == width,
        s"cannot merge a ($d x $w) sketch into a ($depth x $width) aggregate")
      CmsSketch.mergeInto(buf, in)
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    CmsSketch.mergeInto(a, b)

  override def eval(buf: Array[Long]): Any = CmsSketch.serialize(buf, depth, width)
  override def serialize(buf: Array[Long]): Array[Byte] =
    CmsSketch.serialize(buf, depth, width)
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val (d, w, buf) = CmsSketch.deserialize(bytes)
    require(d == depth && w == width,
      s"sketch shape ($d x $w) does not match aggregate shape ($depth x $width)")
    buf
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "cms_merge"

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsMergeAgg =
    copy(child = newChild)
}

/** `cms_query(sketch, value)` — scalar point-frequency estimate: min over
  * rows, an upper bound on the true count of `value`.
  *
  * Codegen'd via a per-row call into [[probe]] (the expression instance
  * rides the generated class's references): a CodegenFallback here would
  * SPLIT whole-stage codegen around the prefilter — measured ~3x slower
  * end-to-end on the cms_heavy_hitters probe pass at the 10x smoke scale,
  * because the scan→filter→partial-agg pipeline degrades to interpreted
  * row iterators. The decode cache keeps the bytes→counters parse off the
  * per-row path, so a constant sketch probed by millions of rows parses
  * once per task (the heavy-hitter analog of [[BloomContains]]'s probe
  * pattern). A constant sketch (`lit(bytes)`) arrives as a [[ConstBytes]]
  * payload node, not a `Literal` ([[Cms.queryBuilder]]): a `Literal`
  * would print every byte as hex in each plan string.
  */
case class CmsQuery(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case BinaryType =>
      if (HllRegisters.supported(right.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"cms_query does not support ${right.dataType.sql} values")
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_query expects a binary sketch column, got ${other.sql}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_query"

  @transient private lazy val (h1, h2) = CmsSketch.hashers(right.dataType)

  // decode cache, same shape as BloomContains': one volatile (ref, parsed)
  // pair keyed on reference identity, because the common carrier is a
  // single ConstBytes whose byte array keeps one stable reference across
  // every probe of a task — and a single atomic pair can't tear when the
  // expression instance is shared across task threads.
  //
  // INVARIANT (shared with BloomContains): reference-identity caching is
  // sound only because no Spark code path re-presents the SAME Array[Byte]
  // reference with mutated contents — a ConstBytes (like a Literal) hands
  // out one array nothing writes to, and column-sourced arrays are fresh
  // copies per row
  // (UnsafeRow.getBinary allocates). If a future accessor ever hands out a
  // reused mutable buffer, this cache would serve stale counters; any such
  // change must switch the key to a content hash.
  @transient @volatile private var cache: (AnyRef, (Int, Int, Array[Long])) = _

  /** Per-row probe shared by interpreted eval and generated code. */
  def probe(sketch: Array[Byte], value: Any): Long = {
    val ref: AnyRef = sketch
    var c = cache
    if (c == null || !(c._1 eq ref)) {
      c = (ref, CmsSketch.deserialize(sketch))
      cache = c
    }
    val (d, w, buf) = c._2
    CmsSketch.query(buf, h1(value), h2(value), d, w)
  }

  override protected def nullSafeEval(sketch: Any, value: Any): Any =
    probe(sketch.asInstanceOf[Array[Byte]], value)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("cmsQuery", this, classOf[CmsQuery].getName)
    nullSafeCodeGen(ctx, ev, (sketch, value) =>
      s"${ev.value} = $self.probe($sketch, $value);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CmsQuery =
    copy(left = newLeft, right = newRight)
}

/** Builders + Column-level API for the CMS family. */
object Cms {
  val DefaultDepth = 5     // error probability e^-5 ≈ 0.7%
  val DefaultWidth = 2048  // overestimate ≤ e·N/2048 ≈ 0.13% of stream size

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what shape must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  private[graft] val sketchBuilder: Seq[Expression] => Expression = {
    case Seq(c)       => CmsSketchAgg(c, DefaultDepth, DefaultWidth)
    case Seq(c, d, w) => CmsSketchAgg(c, litInt(d, "cms_sketch"), litInt(w, "cms_sketch"))
    case other => throw new IllegalArgumentException(
      s"cms_sketch takes (col[, depth, width]), got ${other.size} args")
  }
  private[graft] val mergeBuilder: Seq[Expression] => Expression = {
    case Seq(c)       => CmsMergeAgg(c, DefaultDepth, DefaultWidth)
    case Seq(c, d, w) => CmsMergeAgg(c, litInt(d, "cms_merge"), litInt(w, "cms_merge"))
    case other => throw new IllegalArgumentException(
      s"cms_merge takes (sketch[, depth, width]), got ${other.size} args")
  }
  /** A foldable sketch argument rides as a [[ConstBytes]] payload; a
    * sketch column keeps the plain [[CmsQuery]] path.
    */
  private[graft] val queryBuilder: Seq[Expression] => Expression = {
    case Seq(s, v) => CmsQuery(ConstBytes.fold("cms_sketch", s), v)
    case other => throw new IllegalArgumentException(
      s"cms_query takes (sketch, value), got ${other.size} args")
  }

  def sketch(c: Column, depth: Int = DefaultDepth, width: Int = DefaultWidth): Column =
    call_function("cms_sketch", c, lit(depth), lit(width))
  def merge(c: Column, depth: Int = DefaultDepth, width: Int = DefaultWidth): Column =
    call_function("cms_merge", c, lit(depth), lit(width))
  def query(sketch: Column, value: Column): Column =
    call_function("cms_query", sketch, value)
}
