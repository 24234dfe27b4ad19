package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Bounded top-k aggregation buffer: a size-k max-heap over the value
  * ordering, so the k SMALLEST values survive and every insertion beyond
  * capacity is one compare (+ log k on displacement). Values are deep-copied
  * on admission ([[InternalRow.copyValue]]) because Catalyst reuses eval
  * buffers across rows.
  */
final class TopKBuffer(val k: Int, ord: Ordering[Any]) {
  // max-heap: peek() is the LARGEST kept value — the eviction candidate
  val heap = new java.util.PriorityQueue[Any](math.max(k, 1), ord.reverse)
  def add(v: Any): Unit =
    if (heap.size < k) { heap.offer(InternalRow.copyValue(v)); () }
    else if (ord.lt(v, heap.peek())) {
      heap.poll()
      heap.offer(InternalRow.copyValue(v))
      ()
    }
  /** Kept values, ascending — the `slice(array_sort(...), 1, k)` order. */
  def toSortedArray: Array[Any] = {
    val out = heap.toArray
    java.util.Arrays.sort(out, ord.asInstanceOf[java.util.Comparator[AnyRef]])
    out.asInstanceOf[Array[Any]]
  }
}

/** `topk_min(value, k)` — the k smallest values of the group by `value`'s
  * natural ordering (field-by-field for structs), returned ascending: the
  * result of `slice(array_sort(collect_list(value)), 1, k)` WITHOUT the
  * unbounded intermediate. `collect_list` buffers the whole group in one
  * aggregation row — a pathological group (a document with a huge
  * vocabulary, a hub key) concentrates memory in a single buffer that can
  * neither spill nor split — whereas this buffer is k values at every
  * moment, partial aggregation ships k values per partition, and merge is
  * k·log k. Descending top-k = negate (numeric) or wrap the sort key, the
  * same contract as `array_sort`.
  *
  * Capability extension beyond the reference (`/root/reference/dags/
  * google_trends_to_bigquery.py:97-103` keeps whole groups in pandas to
  * rank them); the bounded-heap form is what survives 100 TB groups.
  */
case class TopKMinAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with UnaryLike[Expression] {

  require(k >= 1 && k <= 65536, s"k must be in [1, 65536], got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  @transient private lazy val ord: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)
  // one-column UnsafeRow codec for the shuffle form of the buffer: the
  // value type is arbitrary (struct/string/numeric), so serialize each
  // kept value as a length-prefixed UnsafeRow image
  @transient private lazy val proj = UnsafeProjection.create(Array(child.dataType))
  @transient private lazy val holder = new Array[Any](1)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, ord)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v)
    buf
  }

  override def merge(a: TopKBuffer, b: TopKBuffer): TopKBuffer = {
    val it = b.heap.iterator()
    while (it.hasNext) a.add(it.next())
    a
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData(buf.toSortedArray)

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val vals = buf.toSortedArray
    val images = vals.map { v =>
      holder(0) = v
      proj.apply(InternalRow.fromSeq(scala.collection.immutable.ArraySeq
        .unsafeWrapArray(holder))).copy().getBytes
    }
    val bb = java.nio.ByteBuffer.allocate(4 + images.map(_.length + 4).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(images.length)
    images.foreach { im => bb.putInt(im.length); bb.put(im) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val buf = new TopKBuffer(k, ord)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val im = new Array[Byte](len)
      bb.get(im)
      val row = new UnsafeRow(1)
      row.pointTo(im, len)
      buf.add(row.get(0, child.dataType))
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_min"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKMinAgg =
    copy(child = newChild)
}

/** Builder + Column-level API. */
object TopK {
  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what k must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  private[graft] val minBuilder: Seq[Expression] => Expression = {
    case Seq(c, p) => TopKMinAgg(c, litInt(p, "topk_min"))
    case other => throw new IllegalArgumentException(
      s"topk_min takes (value, k), got ${other.size} args")
  }

  def minK(value: Column, k: Int): Column =
    call_function("topk_min", value, lit(k))
}
