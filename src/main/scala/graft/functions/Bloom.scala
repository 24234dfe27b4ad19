package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.types._

/** Mergeable Bloom filters — the MEMBERSHIP third of the sketch family
  * (HLL = distinct counts, CMS = point frequencies, Bloom = "have I seen
  * this key?"). The 100 TB use cases are join pruning and decontamination:
  * build one small filter over the small/driving side's keys (a blocklist,
  * an eval-set shingle table, the qualifying keys of a selective dim
  * filter), OR-merge the per-partition filters into one broadcastable
  * value, and drop big-side rows that cannot match BEFORE they reach the
  * shuffle/join — a no-false-negative prefilter, so following it with the
  * exact join keeps results exact while the exchange carries only the
  * (tiny) candidate superset.
  *
  * Standard Bloom (Bloch/Kirsch–Mitzenmacher construction): an m-bit array;
  * each value sets k bits at `floorMod(h1 + i*h2, m)`, i in [0, k) — double
  * hashing over two independent XXH64 value hashes (h2 forced odd).
  * Membership tests the same k bits: all set → "maybe" (false-positive rate
  * ≈ (1 - e^{-kn/m})^k), any clear → definitely absent. Merging filters of
  * the same shape is bitwise OR, so `merge(bloom(A), bloom(B))` is
  * byte-identical to `bloom(A ++ B)` — pinned exactly by BloomSpec, like
  * the HLL/CMS equality tests.
  *
  * Sketch bytes are self-describing:
  * `[numBits:int][numHashes:int][typeClass:int]` header then the bit
  * words, so a stored filter (e.g. a published benchmark's fingerprint
  * blocklist) can be validated and queried standalone — including the
  * key-hash class check that makes a cross-typed probe a loud error
  * instead of silent false negatives.
  */
object BloomFilterBits {
  val SeedA = 0xc2b2ae35L
  val SeedB = 0x27d4eb2fL

  def numWords(numBits: Int): Int = (numBits + 63) >>> 6

  def emptyBuffer(numBits: Int): Array[Long] = new Array[Long](numWords(numBits))

  /** Bit index for hash row i via Kirsch–Mitzenmacher double hashing. */
  def bit(h1: Long, h2: Long, i: Int, numBits: Int): Int =
    java.lang.Math.floorMod(h1 + i.toLong * h2, numBits.toLong).toInt

  def add(buf: Array[Long], h1: Long, h2: Long, numBits: Int, numHashes: Int): Unit = {
    var i = 0
    while (i < numHashes) {
      val b = bit(h1, h2, i, numBits)
      buf(b >>> 6) |= 1L << (b & 63)
      i += 1
    }
  }

  def mightContain(buf: Array[Long], h1: Long, h2: Long,
                   numBits: Int, numHashes: Int): Boolean = {
    var i = 0
    while (i < numHashes) {
      val b = bit(h1, h2, i, numBits)
      if ((buf(b >>> 6) & (1L << (b & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** In-place bitwise OR of `b` into `a`. */
  def mergeInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length,
      s"cannot merge Bloom filters of different sizes (${a.length} vs ${b.length} words)")
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  /** The key-hash equivalence class a filter was built over. The value hash
    * widens all integrals (and date/timestamps) into one hashLong domain,
    * so those interoperate; float/double, string, and binary hash
    * differently — probing a filter with a key from another class would
    * SILENTLY return false for inserted keys, breaking the
    * no-false-negative guarantee, so the class is stamped into the filter
    * bytes and checked at probe/merge time. 0 = empty/untyped.
    */
  def typeClass(dt: DataType): Int = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         DateType | TimestampType | TimestampNTZType => 1
    case FloatType | DoubleType => 2
    case StringType => 3
    case BinaryType => 4
    case other => throw new IllegalArgumentException(
      s"no Bloom type class for ${other.sql}")
  }

  /** [numBits][numHashes][typeClass] header + bit words, big-endian. */
  def serialize(buf: Array[Long], numBits: Int, numHashes: Int, tc: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + 8 * buf.length)
    bb.putInt(numBits).putInt(numHashes).putInt(tc)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  /** (numBits, numHashes, typeClass, words) from filter bytes,
    * shape-validated.
    */
  def deserialize(bytes: Array[Byte]): (Int, Int, Int, Array[Long]) = {
    require(bytes.length >= 12, s"Bloom filter too short: ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numBits = bb.getInt()
    val numHashes = bb.getInt()
    val tc = bb.getInt()
    require(numBits > 0 && numHashes > 0 && tc >= 0 && tc <= 4 &&
      bytes.length == 12 + 8 * numWords(numBits),
      s"corrupt Bloom filter: bits=$numBits hashes=$numHashes tc=$tc len=${bytes.length}")
    val buf = new Array[Long](numWords(numBits))
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong(); i += 1 }
    (numBits, numHashes, tc, buf)
  }

  /** (h1, h2) value hashes; h2 forced odd so hash rows stay independent
    * mod any (even) bit count.
    */
  def hashers(dt: DataType): (Any => Long, Any => Long) = {
    val a = HllRegisters.hasher(dt, SeedA)
    val b = HllRegisters.hasher(dt, SeedB)
    (a, v => b(v) | 1L)
  }
}

/** `bloom_agg(col, numBits, numHashes)` — aggregate raw values into a Bloom
  * filter (`binary`). Partials build local bit arrays; the final merge is
  * bitwise OR.
  */
case class BloomAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(numBits >= 64 && numBits <= (1 << 27),
    s"numBits must be in [64, 2^27], got $numBits")
  require(numHashes >= 1 && numHashes <= 16,
    s"numHashes must be in [1, 16], got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult =
    if (HllRegisters.supported(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_agg does not support ${child.dataType.sql} input")

  @transient private lazy val (h1, h2) = BloomFilterBits.hashers(child.dataType)
  @transient private lazy val tc = BloomFilterBits.typeClass(child.dataType)

  override def createAggregationBuffer(): Array[Long] =
    BloomFilterBits.emptyBuffer(numBits)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomFilterBits.add(buf, h1(v), h2(v), numBits, numHashes)
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    BloomFilterBits.mergeInto(a, b)

  override def eval(buf: Array[Long]): Any =
    BloomFilterBits.serialize(buf, numBits, numHashes, tc)
  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomFilterBits.serialize(buf, numBits, numHashes, tc)
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val (nb, nh, t, buf) = BloomFilterBits.deserialize(bytes)
    require(nb == numBits && nh == numHashes && t == tc,
      s"filter shape ($nb bits, $nh hashes, class $t) does not match " +
        s"aggregate ($numBits, $numHashes, class $tc)")
    buf
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomAgg =
    copy(child = newChild)
}

/** `bloom_merge(filterCol, numBits, numHashes)` — aggregate stored filters
  * by bitwise OR: the re-aggregation half of the mergeable story.
  */
case class BloomMergeAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(numBits >= 64 && numBits <= (1 << 27),
    s"numBits must be in [64, 2^27], got $numBits")
  require(numHashes >= 1 && numHashes <= 16,
    s"numHashes must be in [1, 16], got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_merge expects a binary filter column, got ${other.sql}")
  }

  // buffer layout: bit words ++ one trailing slot holding the type class
  // of the filters merged so far (0 until the first input arrives) — merged
  // filters must agree on it, else the result would silently false-negative
  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](BloomFilterBits.numWords(numBits) + 1)

  private def adoptClass(buf: Array[Long], t: Int): Unit = {
    val slot = buf.length - 1
    if (t != 0) {
      if (buf(slot) == 0L) buf(slot) = t.toLong
      else require(buf(slot) == t.toLong,
        s"cannot merge a class-$t filter into a class-${buf(slot)} aggregate")
    }
  }

  private def orWords(buf: Array[Long], in: Array[Long]): Unit = {
    var i = 0
    while (i < in.length) { buf(i) |= in(i); i += 1 }
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val (nb, nh, t, in) = BloomFilterBits.deserialize(v.asInstanceOf[Array[Byte]])
      require(nb == numBits && nh == numHashes,
        s"cannot merge a ($nb, $nh) filter into a ($numBits, $numHashes) aggregate")
      adoptClass(buf, t)
      orWords(buf, in)
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    adoptClass(a, b(b.length - 1).toInt)
    var i = 0
    while (i < b.length - 1) { a(i) |= b(i); i += 1 }
    a
  }

  private def words(buf: Array[Long]): Array[Long] = buf.init

  override def eval(buf: Array[Long]): Any =
    BloomFilterBits.serialize(words(buf), numBits, numHashes, buf.last.toInt)
  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomFilterBits.serialize(words(buf), numBits, numHashes, buf.last.toInt)
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val (nb, nh, t, w) = BloomFilterBits.deserialize(bytes)
    require(nb == numBits && nh == numHashes,
      s"filter shape ($nb, $nh) does not match aggregate ($numBits, $numHashes)")
    w :+ t.toLong
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_merge"

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomMergeAgg =
    copy(child = newChild)
}

/** `bloom_contains(filter, value)` — scalar membership probe: false means
  * DEFINITELY absent (the no-false-negative guarantee the prefilter
  * pattern rests on); true means "maybe", within the configured
  * false-positive rate.
  *
  * CodegenFallback would deserialize the filter bytes per row; instead the
  * probe is evaluated per-row but the deserialized words are cached keyed
  * on the byte array's identity, so a constant filter is decoded once per
  * task, not once per row. A constant filter (`lit(bytes)`, as
  * [[Bloom.filterLiteral]] builds it) arrives as a [[ConstBytes]] payload
  * node ([[Bloom.containsBuilder]]), not a `Literal` that would print every
  * byte as hex in each plan string.
  */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case BinaryType =>
      if (HllRegisters.supported(right.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"bloom_contains does not support ${right.dataType.sql} values")
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_contains expects a binary filter column, got ${other.sql}")
  }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"

  @transient private lazy val (h1, h2) = BloomFilterBits.hashers(right.dataType)

  // decode cache: the filter is usually ONE ConstBytes probed by millions of
  // rows — reference-identity beats re-parsing bytes per row. A single
  // volatile (ref, parsed) pair, because an interpreted expression instance
  // can be shared by every task thread of a stage (CodegenFallback holds
  // the object in the generated code's references): two separate fields
  // could tear under concurrent misses, pairing one filter's ref with
  // another filter's decoded words. Soundness rests on the same invariant
  // documented at CmsQuery's cache: no Spark accessor re-presents one
  // Array[Byte] reference with mutated contents (ConstBytes and Literal
  // values are never written to, row accessors allocate fresh copies).
  @transient private lazy val probeTc = BloomFilterBits.typeClass(right.dataType)
  @transient @volatile private var cache: (AnyRef, (Int, Int, Int, Array[Long])) = _

  override protected def nullSafeEval(filter: Any, value: Any): Any = {
    val ref = filter.asInstanceOf[AnyRef]
    var c = cache
    if (c == null || !(c._1 eq ref)) {
      c = (ref, BloomFilterBits.deserialize(filter.asInstanceOf[Array[Byte]]))
      cache = c
    }
    val (nb, nh, tc, buf) = c._2
    // a cross-class probe (e.g. filter built over strings, probed with a
    // long) hashes differently and would SILENTLY miss inserted keys —
    // fail loudly instead; class 0 = provably-empty filter, any probe false
    require(tc == 0 || tc == probeTc,
      s"bloom_contains: filter was built over key class $tc but the probe " +
        s"value is ${right.dataType.sql} (class $probeTc) — a cross-class " +
        "probe would silently break the no-false-negative guarantee")
    BloomFilterBits.mightContain(buf, h1(value), h2(value), nb, nh)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}

/** Builders + Column-level API for the Bloom family. */
object Bloom {
  import org.apache.spark.sql.DataFrame

  /** Build the filter over `keys`' single column and return `df` filtered to
    * rows whose `key` the filter might contain — the join-pruning prefilter
    * as one call.
    *
    * The filter bytes are collected (exactly ONE bounded-size binary value;
    * shape-validated) and embedded in the plan as a constant rather than
    * attached via a 1-row broadcast join: a join-produced binary column is
    * re-copied by UnsafeRow on every access, defeating [[BloomContains]]'s
    * decode-once-per-task cache — measured 10s vs 0.3s over 600k probe rows.
    * A constant deserializes once per task closure and keeps one stable
    * array reference, which is exactly the broadcast-variable pattern
    * expressions need. The constant rides as a [[ConstBytes]] payload node,
    * which prints its size and digest, not a `Literal`, which prints its
    * hex: each AQE stage update re-renders the whole plan string, and a
    * 128 KiB filter made that 2.6 M characters (`bloom_decontam` at
    * sf0.01). The collect is the scan of the SMALL side a bloom build always
    * pays; at 100 TB the driving side of a prefilter is small by
    * construction (a blocklist, a filtered dim) or the pattern doesn't
    * apply.
    */
  def prefilter(df: DataFrame, key: Column, keys: DataFrame,
                numBits: Int = DefaultBits, numHashes: Int = DefaultHashes): DataFrame =
    df.filter(contains(filterLiteral(keys, numBits, numHashes), key))

  /** Drop rows of `df` whose `key` appears in `blocklist` (single-column
    * frame of the same key domain) — the decontamination anti-join with a
    * bloom split: rows the filter rejects are PROVABLY clean (no false
    * negatives) and skip the join entirely; only probe hits pay for the
    * exact anti-join that removes false positives. The result is exactly
    * `df` minus blocklisted rows — the composition's exactness argument
    * lives here, shared by the `bloom_decontam` query and
    * [[graft.pipeline.CorpusJob]].
    */
  def decontaminate(df: DataFrame, key: Column, blocklist: DataFrame,
                    numBits: Int = DefaultBits, numHashes: Int = DefaultHashes): DataFrame = {
    require(!df.columns.contains("__bl_k") && !df.columns.contains("__bl_maybe"),
      "df already carries the decontaminate scratch columns")
    val filt = filterLiteral(blocklist, numBits, numHashes)
    val probed = df.withColumn("__bl_k", key)
      .withColumn("__bl_maybe", contains(filt, col("__bl_k")))
    val bl = blocklist.toDF("__bl_k")
    probed.filter(!col("__bl_maybe"))
      .unionByName(probed.filter(col("__bl_maybe")).join(bl, Seq("__bl_k"), "left_anti"))
      .drop("__bl_k", "__bl_maybe")
  }

  /** Build a filter over `keys`' single column and return it as a constant
    * column (`lit(bytes)`, which [[contains]] carries as a [[ConstBytes]]
    * payload) — see [[prefilter]] for why a constant (and not a 1-row
    * broadcast join) is the right carrier for a probe-side filter.
    */
  def filterLiteral(keys: DataFrame,
                    numBits: Int = DefaultBits, numHashes: Int = DefaultHashes): Column = {
    val keyCol = keys.columns match {
      case Array(c) => c
      case cs => throw new IllegalArgumentException(
        s"keys frame must have exactly one column, got ${cs.mkString(", ")}")
    }
    val bytes = keys.agg(agg(keys.col(keyCol), numBits, numHashes).as("f"))
      .head().getAs[Array[Byte]]("f")
    val (nb, nh, _, _) = BloomFilterBits.deserialize(bytes) // shape sanity
    require(nb == numBits && nh == numHashes, s"built filter shape ($nb,$nh) drifted")
    lit(bytes)
  }
  val DefaultBits = 1 << 20  // 128 KiB; ~1% FPR at ~110k keys with 7 hashes
  val DefaultHashes = 7

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what shape must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  private[graft] val aggBuilder: Seq[Expression] => Expression = {
    case Seq(c)       => BloomAgg(c, DefaultBits, DefaultHashes)
    case Seq(c, m, k) => BloomAgg(c, litInt(m, "bloom_agg"), litInt(k, "bloom_agg"))
    case other => throw new IllegalArgumentException(
      s"bloom_agg takes (col[, numBits, numHashes]), got ${other.size} args")
  }
  private[graft] val mergeBuilder: Seq[Expression] => Expression = {
    case Seq(c)       => BloomMergeAgg(c, DefaultBits, DefaultHashes)
    case Seq(c, m, k) => BloomMergeAgg(c, litInt(m, "bloom_merge"), litInt(k, "bloom_merge"))
    case other => throw new IllegalArgumentException(
      s"bloom_merge takes (filter[, numBits, numHashes]), got ${other.size} args")
  }
  /** A foldable filter argument rides as a [[ConstBytes]] payload; a
    * filter column keeps the plain [[BloomContains]] path.
    */
  private[graft] val containsBuilder: Seq[Expression] => Expression = {
    case Seq(f, v) => BloomContains(ConstBytes.fold("bloom_filter", f), v)
    case other => throw new IllegalArgumentException(
      s"bloom_contains takes (filter, value), got ${other.size} args")
  }

  def agg(c: Column, numBits: Int = DefaultBits, numHashes: Int = DefaultHashes): Column =
    call_function("bloom_agg", c, lit(numBits), lit(numHashes))
  def merge(c: Column, numBits: Int = DefaultBits, numHashes: Int = DefaultHashes): Column =
    call_function("bloom_merge", c, lit(numBits), lit(numHashes))
  def contains(filter: Column, value: Column): Column =
    call_function("bloom_contains", filter, value)
}
