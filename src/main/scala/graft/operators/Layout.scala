package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — the file-level data-skipping
  * primitive for multi-dimensional scans.
  *
  * A 100 TB table is pruned by file/row-group min-max stats. A layout
  * sorted on ONE column gives perfect pruning on that column and none on
  * any other; interleaving the bits of TWO (or more) columns' rank spaces
  * and range-partitioning + sorting on the interleaved value gives every
  * file a small bounding BOX in the combined key space, so a predicate on
  * EITHER column (or a 2-D box) prunes most files. This is what
  * Delta/Iceberg `OPTIMIZE ZORDER BY` does; here it is a plain Spark
  * plan: one min/max agg pass + `repartitionByRange` on the z-value +
  * `sortWithinPartitions` — no custom physical operator needed, and the
  * range exchange is the only shuffle.
  *
  * The bit-interleave itself is a pure Column expression (shift/and/or
  * terms, whole-stage codegen'd) so the same arithmetic is stateable in
  * ANSI SQL for the oracle (`layout_zvalue`).
  */
object Layout {

  /** Bits per dimension. 12 bits x 2 dims = 24-bit z-values: 4096 rank
    * cells per dimension is far finer than any realistic file count, and
    * everything stays comfortably in a long.
    */
  val Bits = 12

  /** N-dimensional Morton interleave: bit i of dimension d lands at
    * position `i * N + d` (dimension 0 in the low bit of each group, so
    * the 2-dim case reproduces the classic even/odd interleave). Inputs
    * must already be non-negative and in [0, 2^bits); the result must fit
    * a signed long, so `N * bits <= 63` — at the default 12 bits that
    * allows up to 5 dimensions, and callers layouting more dims should
    * spend a smaller per-dim budget (pruning power per dim shrinks with N
    * anyway: each file's bounding box side grows as file_count^(-1/N)).
    *
    * Still a pure shift/and/or Column expression (whole-stage codegen'd,
    * oracle-stateable in ANSI SQL): N * bits terms OR-reduced.
    */
  def zvalue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zvalue needs at least one dimension")
    require(bits > 0 && cols.size * bits <= 63,
      s"${cols.size} dims x $bits bits overflow a signed long (max 63)")
    val n = cols.size
    (for {
      i <- 0 until bits
      (c, d) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + d))
      .reduce(_ bitwiseOR _).cast("long")
  }

  def zvalue(cols: Seq[Column]): Column = zvalue(cols, Bits)

  /** The 2-dim special case: bit i of `a` at even position 2i, bit i of
    * `b` at odd 2i+1 (≡ `zvalue(Seq(a, b))`).
    */
  def zvalue(a: Column, b: Column): Column = zvalue(Seq(a, b), Bits)

  /** Linear min/max scaling of a numeric column into the [0, 2^Bits) rank
    * space: `floor((x - lo) / max(hi - lo, 1e-9) * 2^Bits)`, then clamped
    * into [0, 2^Bits) — x = hi lands on 2^Bits and is clamped to the top
    * cell; a degenerate hi <= lo range maps everything to cell 0. One pass
    * over the data computes the (lo, hi) pair per dimension;
    * rank-exactness is not required — z-order locality only needs a
    * monotone map into the cell grid, so a linear scale (no sort, no
    * window) is the scale-correct choice.
    */
  def scaled(x: Column, lo: Double, hi: Double): Column = {
    val cells = (1 << Bits).toDouble
    val unit = (x.cast("double") - lit(lo)) / lit(math.max(hi - lo, 1e-9))
    least(greatest(floor(unit * cells), lit(0.0)), lit(cells - 1)).cast("long")
  }

  /** Write `df` z-ordered on two numeric columns into `numFiles` parquet
    * files under `path`. One agg pass for the per-dimension bounds, then a
    * single range exchange on the z-value; the z-column is dropped before
    * the write (a narrow projection after the in-partition sort, so the
    * row order the files inherit is preserved).
    */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
                    path: String, numFiles: Int): Unit =
    writeZOrdered(df, Seq(colA, colB), path, numFiles)

  /** N-dim form: one agg pass for ALL dimensions' bounds, one EXACT
    * coarse-histogram pass over the z-value, then a single hash exchange
    * into per-file partitions.
    *
    * Deterministic by construction — `repartitionByRange` is NOT used
    * because its range boundaries come from reservoir sampling seeded by
    * the RDD id, so the file layout (and therefore the per-file min/max
    * boxes a pruning engine reads) shifts between runs of the same data.
    * Instead:
    *   1. bucket `__z` into at most 4096 fixed-width coarse cells and
    *      count rows per cell exactly (one groupBy, bounded collect);
    *   2. walk the cells in z order on the driver and cut them into
    *      `numFiles` contiguous cell ranges of ~equal row count — the
    *      explicit split points the sampled range exchange only
    *      approximated;
    *   3. route each row to its file with ONE hash exchange: file id k is
    *      mapped to a driver-precomputed token whose Murmur3(seed 42)
    *      value lands in partition k of a `numFiles`-way HashPartitioning
    *      (the exact partitioner `repartition(n, col)` uses), so every
    *      output partition holds exactly one contiguous z range.
    * Cost at 100 TB: the histogram is a map-side-combined agg over <=4096
    * groups (bytes to the driver), and the data still moves through a
    * single full exchange — same shuffle volume as the range version,
    * minus its sampling job, plus run-to-run reproducible file boxes.
    *
    * NULL dimensions: a row with a NULL in any layout column has no place
    * on the curve (`scaled(null)` is null, so the interleave is null);
    * such rows are routed to cell 0 — i.e. the first file — rather than
    * crashing the histogram (a null group key) or being dropped. Parquet
    * footer min/max stats skip nulls, so the null dimension contributes
    * nothing to file 0's bounding box and pruning on the other dimensions
    * is unaffected; `boundsN` still rejects an ALL-null column, where no
    * layout is definable at all.
    */
  def writeZOrdered(df: DataFrame, cols: Seq[String], path: String,
                    numFiles: Int, bits: Int = Bits): Unit = {
    require(numFiles > 0, "writeZOrdered needs numFiles > 0")
    val b = boundsN(df, cols)
    val zdf = df.withColumn("__z", coalesce(zvalue(
      cols.zip(b).map { case (c, (lo, hi)) => scaled(col(c), lo, hi) }, bits),
      lit(0L)))

    // 1. exact coarse histogram: z lives in [0, 2^(n*bits)); shave bits
    //    until at most 4096 cells remain.
    val zBits = cols.size * bits
    val cellBits = math.min(zBits, 12)
    val shift = zBits - cellBits
    val numCells = 1 << cellBits
    val counts = new Array[Long](numCells)
    zdf.groupBy(shiftright(col("__z"), shift).cast("int").as("__c"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .foreach(r => counts(r.getInt(0)) = r.getLong(1))
    val total = counts.sum

    // 2. explicit split points: contiguous cell ranges of ~total/numFiles
    //    rows each (cell-granular; cells never split across files).
    val cellToFile = new Array[Int](numCells)
    var f = 0
    var cum = 0L
    for (c <- 0 until numCells) {
      cellToFile(c) = f
      cum += counts(c)
      while (f < numFiles - 1 && cum * numFiles >= (f + 1).toLong * total)
        f += 1
    }

    // 3. one token per file id whose hash partition IS that file id.
    val tokens = hashTokens(numFiles)
    val cellToken = cellToFile.map(tokens)

    zdf.withColumn("__t",
        element_at(lit(cellToken), shiftright(col("__z"), shift).cast("int") + 1))
      .repartition(numFiles, col("__t"))
      .sortWithinPartitions("__z")
      .drop("__z", "__t")
      .write.mode("overwrite").parquet(path)
  }

  /** For each partition id p in [0, n), the smallest non-negative Int
    * token t with `pmod(murmur3_int(t, seed=42), n) == p` — the exact
    * arithmetic of Catalyst's `HashPartitioning.partitionIdExpression`,
    * so `repartition(n, col(token))` routes token t to partition p with
    * no collisions and no sampling.
    */
  private[operators] def hashTokens(n: Int): Array[Int] = {
    val tokens = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var t = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(t, 42)
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; tokens(p) = t; remaining -= 1 }
      t += 1
    }
    tokens
  }

  /** Comparison baseline: the same data linearly sorted on `colA` only —
    * perfect pruning on A, none on B.
    */
  def writeLinear(df: DataFrame, colA: String, path: String, numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(colA))
      .sortWithinPartitions(colA)
      .write.mode("overwrite").parquet(path)

  /** (minA, maxA, minB, maxB) in one pass. */
  def bounds(df: DataFrame, colA: String, colB: String): Array[Double] = {
    val b = boundsN(df, Seq(colA, colB))
    Array(b(0)._1, b(0)._2, b(1)._1, b(1)._2)
  }

  /** Per-dimension (min, max), ALL dims in one agg pass. */
  def boundsN(df: DataFrame, cols: Seq[String]): Seq[(Double, Double)] = {
    require(cols.nonEmpty, "boundsN needs at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    require(!r.anyNull, s"z-order bounds: ${cols.mkString("/")} must be non-null")
    cols.indices.map(i => (r.getDouble(2 * i), r.getDouble(2 * i + 1)))
  }

  /** Per-file (min, max) of a column — the stats a pruning engine reads
    * from footers, recomputed here engine-agnostically for layout audits.
    */
  def fileStats(df: DataFrame, c: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(min(col(c)).cast("double").as("lo"), max(col(c)).cast("double").as("hi"))

  /** Persist `df` as a catalog table hash-bucketed (and in-bucket sorted)
    * on `key` — the OTHER half of the layout story: z-order shrinks what a
    * scan READS; bucketing pre-pays the join/agg SHUFFLE at write time.
    * Two tables bucketed the same way join with zero exchanges (Spark
    * reads bucket i of each side into the same task), and a groupBy on the
    * bucket key skips its exchange too — at 100 TB that converts every
    * recurring fact-to-fact join on the bucket key from a full network
    * shuffle into a co-located merge. LayoutSpec pins the zero-exchange
    * plans; bucket count is fixed at write time, so size it for the
    * TARGET scale (buckets ≈ data / healthy-partition-size), not the
    * current one.
    */
  def writeBucketed(df: DataFrame, key: String, table: String, numBuckets: Int): Unit =
    saveBucketed(df, "overwrite", key, table, numBuckets)

  /** Epoch-advance of a [[writeBucketed]] table: bucket-aligned APPEND of
    * one batch's rows. The standing table is never read or rewritten;
    * Spark validates the bucket spec against the catalog, so a mismatched
    * layout fails loudly instead of silently breaking co-partitioning.
    * Each append adds files per bucket (legal: co-partitioning rides the
    * bucket hash, not the file count); [[Compaction.compactBucketed]]
    * folds them back.
    */
  def appendBucketed(df: DataFrame, key: String, table: String, numBuckets: Int): Unit =
    saveBucketed(df, "append", key, table, numBuckets)

  private def saveBucketed(df: DataFrame, mode: String, key: String,
                           table: String, numBuckets: Int): Unit =
    df.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, key).sortBy(key)
      .saveAsTable(table)

  /** The catalog name of a standing-state table derived from `dir`:
    * `<prefix>_<sanitized dir>_<md5 tag>`. The 4-byte md5 tag keeps the
    * mapping injective: sanitizing alone would collapse distinct dirs like
    * `/data/sf0.1` and `/data/sf0_1` onto one name and silently share state
    * between different corpora.
    */
  def stateName(prefix: String, dir: String): String = {
    val sfx = dir.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .stripPrefix("_").stripSuffix("_")
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${prefix}_${sfx}_$tag"
  }
}
