package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

/** Z-order layout contract: the bit-interleave is exact, the written files
  * form small bounding boxes in BOTH dimensions, and file-level min/max
  * pruning (what a 100 TB scan actually does with footer stats) reads far
  * fewer files than a single-column sort layout for predicates on the
  * secondary dimension.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def mortonRef(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < Layout.Bits) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("standing-state table names are pinned per family and injective") {
    val d = "/data/sf0.1"
    assert(graft.operators.DedupState.names("graft_corpus", d) ===
      graft.operators.DedupState.Names(
        "graft_corpus_bands_data_sf0_1_3aef3614",
        "graft_corpus_toks_data_sf0_1_3aef3614",
        "graft_corpus_comps_data_sf0_1_3aef3614",
        "graft_corpus_spans_data_sf0_1_3aef3614"))
    assert(Layout.stateName("graft_ordview_parts", d) ===
      "graft_ordview_parts_data_sf0_1_3aef3614")
    assert(Layout.stateName("graft_ivf_cells", d) ===
      "graft_ivf_cells_data_sf0_1_3aef3614")
    assert(graft.pipeline.CorpusStream.namesFor(d).meta ===
      "corpus_stream_data_sf0_1_3aef3614_meta")
    // both dirs sanitize to data_sf0_1; the md5 tag keeps them apart
    assert(Layout.stateName("graft_ivf_cells", "/data/sf0_1") ===
      "graft_ivf_cells_data_sf0_1_1b31b7c6")
  }

  test("zvalue matches the plain-Scala Morton reference on the full corner set") {
    val probes = for {
      a <- Seq(0L, 1L, 2L, 3L, 5L, 1023L, 2048L, 4095L)
      b <- Seq(0L, 1L, 7L, 64L, 4095L)
    } yield (a, b)
    val got = probes.toDF("a", "b")
      .select($"a", $"b", Layout.zvalue($"a", $"b").as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) =>
      assert(z === mortonRef(a, b), s"zvalue($a, $b)")
    }
    // interleave is a bijection on the grid: distinct inputs, distinct z
    assert(got.map(_._3).distinct.length === probes.length)

    // seeded fuzz across the full grid (one DF, 2000 pairs)
    val rnd = new scala.util.Random(42)
    val fuzz = Seq.fill(2000)((rnd.nextInt(1 << Layout.Bits).toLong,
                               rnd.nextInt(1 << Layout.Bits).toLong))
    fuzz.toDF("a", "b")
      .select($"a", $"b", Layout.zvalue($"a", $"b").as("z"))
      .as[(Long, Long, Long)].collect()
      .foreach { case (a, b, z) => assert(z === mortonRef(a, b), s"fuzz($a, $b)") }
  }

  test("hilbert index is a grid bijection whose consecutive cells are adjacent") {
    import graft.functions.{Hilbert, HilbertOps}
    // bits=4: the full 16x16 grid. Bijection onto [0, 256) AND the curve
    // property Morton lacks: consecutive indices are Manhattan-1 neighbors
    val bits = 4
    val n = 1 << bits
    val cells = for { x <- 0 until n; y <- 0 until n }
      yield (x.toLong, y.toLong, HilbertOps.hilbert(x.toLong, y.toLong, bits))
    assert(cells.map(_._3).sorted === (0L until (n.toLong * n)).toSeq)
    val byD = cells.sortBy(_._3)
    byD.sliding(2).foreach { case Seq((x1, y1, d1), (x2, y2, d2)) =>
      assert(d2 === d1 + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"jump between d=$d1 ($x1,$y1) and d=$d2 ($x2,$y2)")
    }
    // the codegen'd expression agrees with the JVM reference on a fuzz set
    val rnd = new scala.util.Random(42)
    val fuzz = Seq.fill(2000)((rnd.nextInt(1 << Hilbert.Bits).toLong,
                               rnd.nextInt(1 << Hilbert.Bits).toLong))
    fuzz.toDF("x", "y")
      .select($"x", $"y", Hilbert.index($"x", $"y").as("h"))
      .as[(Long, Long, Long)].collect()
      .foreach { case (x, y, h) =>
        assert(h === HilbertOps.hilbert(x, y, Hilbert.Bits), s"fuzz($x, $y)")
      }
  }

  test("hilbert segments have tighter bounding boxes than morton segments") {
    import graft.functions.HilbertOps
    // split the 64x64 grid's curve into equal index ranges (the "file"
    // grain) and compare total bounding-box half-perimeter: the locality
    // claim in the Scaladoc, measured not asserted from authority. The
    // segment length is deliberately NOT a power of 4: at power-of-4
    // grains both curves tile exact square blocks and tie — real range
    // partitioning has no such alignment, and off-alignment is where
    // Morton's seam jumps cost and Hilbert's step-adjacency pays.
    val bits = 6
    val n = 1 << bits
    def boxCost(index: (Long, Long) => Long): Long = {
      val seg = 100L
      val cells = for { x <- 0L until n; y <- 0L until n } yield (x, y, index(x, y) / seg)
      cells.groupBy(_._3).values.map { g =>
        (g.map(_._1).max - g.map(_._1).min) + (g.map(_._2).max - g.map(_._2).min)
      }.sum
    }
    val hilbertCost = boxCost(HilbertOps.hilbert(_, _, bits))
    val mortonCost = boxCost((x, y) => mortonRefN(Seq(x, y), bits))
    assert(hilbertCost < mortonCost,
      s"hilbert=$hilbertCost morton=$mortonCost")
  }

  private def mortonRefN(dims: Seq[Long], bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      var d = 0
      while (d < dims.length) {
        z |= ((dims(d) >> i) & 1L) << (i * dims.length + d)
        d += 1
      }
      i += 1
    }
    z
  }

  test("N-dim zvalue matches the reference, degenerates to 2-dim, rejects overflow") {
    // 3-dim corner set
    val probes3 = for {
      a <- Seq(0L, 1L, 5L, 4095L); b <- Seq(0L, 7L, 2048L); c <- Seq(0L, 1L, 4095L)
    } yield (a, b, c)
    probes3.toDF("a", "b", "c")
      .select($"a", $"b", $"c", Layout.zvalue(Seq($"a", $"b", $"c")).as("z"))
      .as[(Long, Long, Long, Long)].collect()
      .foreach { case (a, b, c, z) =>
        assert(z === mortonRefN(Seq(a, b, c), Layout.Bits), s"zvalue3($a, $b, $c)") }
    // seeded 3-dim fuzz
    val rnd = new scala.util.Random(7)
    Seq.fill(2000)((rnd.nextInt(1 << Layout.Bits).toLong,
                    rnd.nextInt(1 << Layout.Bits).toLong,
                    rnd.nextInt(1 << Layout.Bits).toLong))
      .toDF("a", "b", "c")
      .select($"a", $"b", $"c", Layout.zvalue(Seq($"a", $"b", $"c")).as("z"))
      .as[(Long, Long, Long, Long)].collect()
      .foreach { case (a, b, c, z) =>
        assert(z === mortonRefN(Seq(a, b, c), Layout.Bits), s"fuzz3($a, $b, $c)") }
    // the Seq form at n=2 IS the classic even/odd interleave
    Seq((3L, 9L), (4095L, 0L), (1234L, 567L)).toDF("a", "b")
      .select(Layout.zvalue(Seq($"a", $"b")).as("zn"),
              Layout.zvalue($"a", $"b").as("z2"))
      .as[(Long, Long)].collect()
      .foreach { case (zn, z2) => assert(zn === z2) }
    // 4-dim with a smaller per-dim budget still fits and round-trips
    Seq((1L, 2L, 3L, 4L)).toDF("a", "b", "c", "d")
      .select(Layout.zvalue(Seq($"a", $"b", $"c", $"d"), 8).as("z"))
      .as[Long].collect()
      .foreach(z => assert(z === mortonRefN(Seq(1L, 2L, 3L, 4L), 8)))
    // signed-long overflow is rejected loudly, not wrapped silently
    intercept[IllegalArgumentException] {
      Layout.zvalue(Seq($"a", $"b", $"c", $"d", $"a", $"b"), 12)
    }
  }

  test("3-dim z-order prunes on the THIRD dimension and a 3-dim box hits <= k/16 files") {
    val orders = Tables.orders(spark, sf("sf0.01"))
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val zPath = tmp("layout_z3")
    val files = 64
    Layout.writeZOrdered(orders,
      Seq("o_custkey", "o_orderkey", "o_totalprice"), zPath, files)
    val zBack = spark.read.parquet(zPath)
    assert(zBack.count() === orders.count())
    assert(zBack.exceptAll(orders).isEmpty && orders.exceptAll(zBack).isEmpty)

    val b = Layout.boundsN(orders, Seq("o_custkey", "o_orderkey", "o_totalprice"))
    def band(dim: Int, from: Double, to: Double): (Double, Double) = {
      val (lo, hi) = b(dim)
      (lo + from * (hi - lo), lo + to * (hi - lo))
    }
    // 5% band on the THIRD dimension alone: a 64-file 3-dim layout is a
    // 4x4x4 grid, so the band keeps exactly one slab (16 of 64 files) —
    // the dimension a linear or 2-dim layout can't prune at all. Exact
    // because writeZOrdered's histogram split points are deterministic.
    val (plo, phi) = band(2, 0.40, 0.45)
    val pStats = Layout.fileStats(zBack, "o_totalprice")
    val pCand = pStats.filter($"hi" >= plo && $"lo" <= phi).count()
    assert(pCand === 16L,
      s"3rd-dim candidates $pCand of $files — no pruning on the added dim")

    // a box over ALL THREE dims multiplies the per-dim cuts: <= k/16
    val (alo, ahi) = band(0, 0.40, 0.45)
    val (blo, bhi) = band(1, 0.40, 0.45)
    val boxCand = Layout.fileStats(zBack, "o_custkey")
      .withColumnRenamed("lo", "alo").withColumnRenamed("hi", "ahi")
      .join(Layout.fileStats(zBack, "o_orderkey")
        .withColumnRenamed("lo", "blo").withColumnRenamed("hi", "bhi"), "file")
      .join(pStats, "file")
      .filter($"ahi" >= alo && $"alo" <= ahi &&
              $"bhi" >= blo && $"blo" <= bhi &&
              $"hi" >= plo && $"lo" <= phi)
      .count()
    assert(boxCand === 3L,
      s"3-dim box candidates $boxCand of $files — boxes not tight in all dims")
  }

  test("z-order files are pruned on BOTH dimensions; linear sort only on one") {
    val orders = Tables.orders(spark, sf("sf0.01"))
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val zPath = tmp("layout_z")
    val linPath = tmp("layout_lin")
    val files = 16
    Layout.writeZOrdered(orders, "o_custkey", "o_totalprice", zPath, files)
    Layout.writeLinear(orders, "o_custkey", linPath, files)

    val zBack = spark.read.parquet(zPath)
    val linBack = spark.read.parquet(linPath)
    // layout must not change the data
    assert(zBack.count() === orders.count())
    assert(zBack.exceptAll(orders).isEmpty && orders.exceptAll(zBack).isEmpty)

    // a predicate on the SECONDARY dimension only: 5% band in the middle
    // of o_totalprice. Candidate files = those whose per-file [min, max]
    // overlaps the band — exactly the files footer-stats pruning must read.
    val b = Layout.bounds(orders, "o_custkey", "o_totalprice")
    val (lo, hi) = (b(2) + 0.40 * (b(3) - b(2)), b(2) + 0.45 * (b(3) - b(2)))
    def candidates(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val st = Layout.fileStats(df, "o_totalprice")
      (st.count(), st.filter($"hi" >= lo && $"lo" <= hi).count())
    }
    val (zTotal, zCand) = candidates(zBack)
    val (linTotal, linCand) = candidates(linBack)
    assert(zTotal === files && linTotal === files)
    // linear-on-custkey files each span ~the full price range: no pruning
    assert(linCand >= files - 1, s"linear layout unexpectedly pruned: $linCand")
    // writeZOrdered's split points are computed from an exact histogram
    // (no sampled range exchange), so the file boxes — and these candidate
    // counts — are run-order-independent and can be pinned EXACTLY: a
    // 16-file z-layout on sf0.01 orders is a 4x4 grid and the 5% price
    // band hits exactly one B-row of it.
    assert(zCand === 4L,
      s"z-order candidates $zCand of $zTotal — layout no longer deterministic?")

    // and the primary dimension still prunes too (the box is small BOTH
    // ways): the 5% custkey band deterministically keeps 5 of 16 files
    val (alo, ahi) = (b(0) + 0.40 * (b(1) - b(0)), b(0) + 0.45 * (b(1) - b(0)))
    val aStats = Layout.fileStats(zBack, "o_custkey")
    val aCand = aStats.filter($"hi" >= alo && $"lo" <= ahi).count()
    assert(aCand === 5L, s"z-order custkey candidates $aCand of $zTotal")
  }

  test("matching bucketed tables join and aggregate with zero exchanges") {
    val orders = Tables.orders(spark, sf("sf0.01"))
      .select($"o_orderkey", $"o_totalprice")
    val lineitem = Tables.lineitem(spark, sf("sf0.01"))
      .select($"l_orderkey", $"l_quantity")
    Layout.writeBucketed(orders, "o_orderkey", "bkt_orders", 8)
    Layout.writeBucketed(lineitem, "l_orderkey", "bkt_lineitem", 8)
    val bo = spark.table("bkt_orders")
    val bl = spark.table("bkt_lineitem")

    // drop the catalog tables even when an assertion fails mid-test — a
    // leaked table would poison later suites sharing the session
    try {
    // hint("merge") pins sort-merge (the small fixture would otherwise
    // broadcast); bucketing must then elide BOTH shuffle exchanges.
    // Assert on the AQE FINAL plan STRING — collecting typed operators on
    // executedPlan is vacuous under AQE (AdaptiveSparkPlanExec is a leaf,
    // so a collect never descends into the real plan and finds 0 shuffles
    // whether or not one exists)
    val joined = bo.hint("merge")
      .join(bl, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey").agg(count(lit(1)).as("n"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join+agg should be exchange-free:\n$plan")
    // prove the assertion CAN fail: the same join against a plain
    // (non-bucketed) copy must shuffle
    val plainJoin = bo.hint("merge")
      .join(lineitem, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey").agg(count(lit(1)).as("n"))
    plainJoin.collect()
    val plainPlan = plainJoin.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plainPlan.contains("Exchange hashpartitioning"),
      s"control join unexpectedly exchange-free — assertion is vacuous:\n$plainPlan")

    // and the co-located plan returns exactly what the plain join does
    val plain = orders.join(lineitem, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey").agg(count(lit(1)).as("n"))
    assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    }
  }

  test("rows with a NULL layout dimension land in file 0 — never crash, never drop") {
    val df = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "a"), (2L, 20L, "b"), (null, 30L, "c"),
      (4L, null, "d"), (4000L, 4000L, "e"), (null, null, "f")
    ).toDF("a", "b", "tag")
    val path = tmp("layout_nulls")
    Layout.writeZOrdered(df, "a", "b", path, 4)
    val back = spark.read.parquet(path)
    assert(back.count() === 6L)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // the null-dim rows share file 0 with the lowest z cell, by contract
    val fileOfNull = back.filter($"tag" === "c")
      .select(input_file_name()).head().getString(0)
    val fileOfLowest = back.filter($"tag" === "a")
      .select(input_file_name()).head().getString(0)
    assert(fileOfNull === fileOfLowest)
    // an ALL-null dimension still has no definable layout: loud reject
    intercept[IllegalArgumentException] {
      Layout.writeZOrdered(
        Seq[(java.lang.Long, java.lang.Long)]((1L, null), (2L, null))
          .toDF("a", "b"), "a", "b", tmp("layout_allnull"), 2)
    }
  }

  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name")
    tmpDirs += d
    d.resolve("t").toString
  }

  // deleteOnExit is non-recursive and would silently leak the written
  // parquet data; walk and delete deepest-first instead
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally {
      tmpDirs.foreach { d =>
        import scala.jdk.CollectionConverters._
        // Files.walk returns a Stream holding a directory handle — close it
        // (Using) after collecting, or every test leaks one descriptor
        scala.util.Using.resource(java.nio.file.Files.walk(d)) { st =>
          st.iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
      tmpDirs.clear()
    }
}
