package graft

import graft.operators.ReferenceOps._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** Property-based suite (SURVEY.md §5.3) over the reference-parity
  * operators, with generated micro-datasets:
  *  - melt output size = rows x measures, and values survive the reshape;
  *  - ranking is a permutation of 1..n within every partition;
  *  - cohort semi-join output is always a subset of its input;
  *  - append = union of writes (sink associativity).
  */
object GraftProperties extends Properties("graft") {

  private lazy val spark: SparkSession = SparkSpec.session("graft-props")

  private def widths = Gen.chooseNum(1, 6)
  private def heights = Gen.chooseNum(1, 20)

  private def wideGen: Gen[(Seq[Seq[Long]], Int)] = for {
    w <- widths
    h <- heights
    rows <- Gen.listOfN(h, Gen.listOfN(w, Gen.chooseNum(0L, 100L)))
  } yield (rows, w)

  property("melt size and value preservation") = Prop.forAll(wideGen) {
    case (rows, w) =>
      import spark.implicits._
      val cols = (0 until w).map(i => s"m$i")
      val df = rows.zipWithIndex
        .map { case (r, i) => (i.toLong, r) }
        .toDF("id", "vals")
        .select(col("id") +: cols.zipWithIndex.map { case (c, i) =>
          element_at(col("vals"), i + 1).as(c) }: _*)
      val long = melt(df, Seq("id"), cols, "m", "v")
      long.count() == rows.size.toLong * w &&
        long.agg(sum("v")).head().getLong(0) == rows.flatten.sum
  }

  private def partitioned: Gen[Seq[(String, Long)]] = for {
    nKeys <- Gen.chooseNum(1, 4)
    n <- Gen.chooseNum(1, 30)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf((0 until nKeys).map(i => s"k$i"))
      v <- Gen.chooseNum(0L, 50L)
    } yield (k, v))
  } yield rows

  property("ranking is a permutation of 1..n per partition") =
    Prop.forAll(partitioned) { rows =>
      import spark.implicits._
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "tie")
      val ranked = rankWithin(df, Seq("k"), Seq(desc("v"), asc("tie")))
      ranked.groupBy("k")
        .agg(sort_array(collect_list("ranking")).as("r"), count(lit(1)).as("n"))
        .select("r", "n").as[(Seq[Int], Long)].collect()
        .forall { case (r, n) => r == (1 to n.toInt) }
    }

  property("cohort filter output is a subset of its input") =
    Prop.forAll(partitioned) { rows =>
      import spark.implicits._
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "id")
      val out = cohortFilter(df, Seq("k"), col("v"), 3L, "k")
      out.join(df, Seq("id", "k", "v"), "left_anti").count() == 0L
    }

  property("append twice = union of two writes") =
    Prop.forAll(Gen.chooseNum(1, 20)) { n =>
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-prop").toString
      val df = (1 to n).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      graft.sinks.TableSink.append(df, s"$dir/t")
      graft.sinks.TableSink.append(df, s"$dir/t")
      spark.read.parquet(s"$dir/t").count() == 2L * n
    }
}

/** Heavier iterative/sketch properties at a reduced case count: each case
  * spins several Spark jobs, so 100 cases would dominate the suite.
  */
object GraftAlgoProperties extends Properties("graft.algo") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark: SparkSession = SparkSpec.session("graft-algo-props")

  private def graphGen: Gen[(Int, Seq[(Long, Long)])] = for {
    n <- Gen.chooseNum(2, 25)
    m <- Gen.chooseNum(0, 35)
    edges <- Gen.listOfN(m, for {
      a <- Gen.chooseNum(0, n - 1)
      k <- Gen.chooseNum(1, n - 1)
    } yield (a.toLong, ((a + k) % n).toLong))
  } yield (n, edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) })

  /** Plain-Scala union-find reference implementation. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical minimum per component
    val members = (0 until n).groupBy(find)
    members.flatMap { case (_, ms) =>
      val mn = ms.min.toLong
      ms.map(_.toLong -> mn)
    }
  }

  property("connectedComponents equals a reference union-find on random graphs") =
    Prop.forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      val pairs = edges.toDF("a", "b")
      val nodes = (0L until n.toLong).toDF("doc_id")
      val got = graft.operators.Dedup.connectedComponents(pairs, nodes, "doc_id")
        .as[(Long, Long)].collect().toMap
      got == unionFind(n, edges)
    }

  property("boundedComponents equals the reference union-find on random graphs") =
    Prop.forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      val pairs = edges.toDF("a", "b")
      val nodes = (0L until n.toLong).toDF("doc_id")
      val got = graft.operators.Dedup.boundedComponents(pairs, nodes, "doc_id")
        .as[(Long, Long)].collect().toMap
      got == unionFind(n, edges)
    }

  property("lshCandidatePairs = brute-force pairs sharing a band within the bucket cap, exactly once") =
    Prop.forAll(for {
      n <- Gen.chooseNum(2, 18)
      vals <- Gen.chooseNum(1, 3) // tiny value alphabet -> heavy collisions
      rows <- Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(0, vals - 1)))
      cap <- Gen.oneOf(Option.empty[Int], Some(2), Some(4))
    } yield (rows, cap)) { case (rows, cap) =>
      import spark.implicits._
      val bands = rows.zipWithIndex
        .map { case (bs, i) => (i.toLong, s"v${bs(0)}", s"v${bs(1)}", s"v${bs(2)}", s"v${bs(3)}") }
        .toDF("doc_id", "band0", "band1", "band2", "band3")
      // collect WITH duplicates: each pair must come out exactly once
      val got = graft.operators.Dedup.lshCandidatePairs(bands, "doc_id", 4, cap)
        .as[(Long, Long)].collect().toSeq.sorted
      // band k's bucket for value v holds every row whose band k is v
      def small(k: Int, v: Int) = cap.forall(c => rows.count(_(k) == v) <= c)
      val want = (for {
        (x, i) <- rows.zipWithIndex
        (y, j) <- rows.zipWithIndex if i < j
        if (0 until 4).exists(k => x(k) == y(k) && small(k, x(k)))
      } yield (i.toLong, j.toLong)).sorted
      got == want
    }

  /** 60-bit hashes a few bit flips away from a few random bases, so that
    * pairs within Hamming 3 exist; plus a probe/standing split point.
    */
  private def hashesGen: Gen[(Seq[Long], Int)] = for {
    nBases <- Gen.chooseNum(1, 3)
    bases <- Gen.listOfN(nBases, Gen.chooseNum(0L, (1L << 60) - 1))
    n <- Gen.chooseNum(2, 16)
    hashes <- Gen.listOfN(n, for {
      base <- Gen.oneOf(bases)
      flips <- Gen.chooseNum(0, 5)
      bits <- Gen.listOfN(flips, Gen.chooseNum(0, 59))
    } yield bits.foldLeft(base)((h, bit) => h ^ (1L << bit)))
    split <- Gen.chooseNum(1, n - 1)
  } yield (hashes, split)

  property("Hamming self, cross and stored-probe pairs = brute-force popcount(xor) <= 3, exactly once") =
    Prop.forAll(hashesGen) { case (hashes, split) =>
      import spark.implicits._
      import graft.operators.Dedup
      val df = hashes.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("doc_id", "h")
      val probe = df.filter(col("doc_id") < split)
      val standing = df.filter(col("doc_id") >= split)
      def rows(pairs: org.apache.spark.sql.DataFrame) =
        pairs.select("a", "b", "hamming").as[(Long, Long, Int)].collect().toSeq.sorted
      def want(keep: (Int, Int) => Boolean) = (for {
        (x, i) <- hashes.zipWithIndex
        (y, j) <- hashes.zipWithIndex if keep(i, j)
        d = java.lang.Long.bitCount(x ^ y) if d <= 3
      } yield (i.toLong, j.toLong, d)).sorted
      val cross = want((i, j) => i < split && j >= split)
      def long(f: org.apache.spark.sql.DataFrame) = Dedup.hammingLongBands(f, "doc_id", "h", 60, 4)
      rows(Dedup.hammingPairs(df, "doc_id", "h", 60, 4, 3)) == want(_ < _) &&
        rows(Dedup.hammingCrossPairs(probe, standing, "doc_id", "h", 60, 4, 3)) == cross &&
        rows(Dedup.hammingCrossPairsLong(long(probe), long(standing), "doc_id", "h", 60, 4, 3)) == cross
    }

  property("cross-set first-match pairs = brute-force any-band cross pairs, exactly once") =
    Prop.forAll(for {
      n <- Gen.chooseNum(2, 16)
      split <- Gen.chooseNum(1, n - 1)
      vals <- Gen.chooseNum(1, 3) // tiny value alphabet -> heavy collisions
      rows <- Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(0, vals - 1)))
    } yield (rows, split)) { case (rows, split) =>
      import spark.implicits._
      val bands = rows.zipWithIndex
        .map { case (bs, i) => (i.toLong, s"v${bs(0)}", s"v${bs(1)}", s"v${bs(2)}", s"v${bs(3)}") }
        .toDF("doc_id", "band0", "band1", "band2", "band3")
      val a = bands.filter(col("doc_id") < split)
      val b = bands.filter(col("doc_id") >= split)
      // collect WITH duplicates: the first-match rule must emit each
      // colliding pair exactly once, not rely on a downstream distinct
      val got = graft.operators.Dedup.lshCrossCandidatePairs(a, b, "doc_id", 4)
        .as[(Long, Long)].collect().toSeq.sorted
      val want = (for {
        (x, i) <- rows.zipWithIndex if i < split
        (y, j) <- rows.zipWithIndex if j >= split
        if x.zip(y).exists { case (p, q) => p == q }
      } yield (i.toLong, j.toLong)).sorted
      got == want
    }

  property("simhash equals a plain-Scala reference on random documents") =
    Prop.forAll(for {
      n <- Gen.chooseNum(1, 8)
      docs <- Gen.listOfN(n, Gen.listOfN(6,
        Gen.oneOf("alpha", "beta", "gamma", "delta", "x1", "xx", "")))
    } yield docs) { docs =>
      import spark.implicits._
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      def reference(tokens: Seq[String]): Long = {
        val tf = tokens.filter(_.nonEmpty).groupBy(identity).view.mapValues(_.size.toLong)
        (0 until 60).map { b =>
          val vote = tf.map { case (t, f) =>
            val h = java.lang.Long.parseLong(md5hex(t).substring(0, 15), 16)
            f * (2 * ((h >> b) & 1L) - 1)
          }.sum
          if (vote > 0) 1L << b else 0L
        }.sum
      }
      val df = docs.zipWithIndex
        .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup.simhash(df, "doc_id", "text")
        .as[(Long, Long)].collect().toMap
      val want = docs.zipWithIndex.collect {
        case (toks, i) if toks.exists(_.nonEmpty) => (i.toLong, reference(toks))
      }.toMap
      got == want
    }

  property("hll union over any grouping equals the one-shot sketch, register-exact") =
    Prop.forAll(for {
      n <- Gen.chooseNum(1, 400)
      groups <- Gen.chooseNum(1, 7)
    } yield (n, groups)) { case (n, groups) =>
      import spark.implicits._
      val df = (0 until n).map(i => (i.toLong % 97, i % groups)).toDF("x", "g")
      val unioned = df.groupBy("g")
        .agg(graft.functions.Hll.sketch(col("x"), 8).as("sk"))
        .agg(graft.functions.Hll.union(col("sk"), 8).as("sk"))
        .select("sk").as[Array[Byte]].head()
      val oneShot = df.agg(graft.functions.Hll.sketch(col("x"), 8).as("sk"))
        .select("sk").as[Array[Byte]].head()
      java.util.Arrays.equals(unioned, oneShot)
    }

  property("cms: upper bound always, merge-of-partials byte-equals one-shot") =
    Prop.forAll(for {
      n <- Gen.chooseNum(1, 60)
      xs <- Gen.listOfN(n, Gen.chooseNum(0L, 12L)) // heavy collisions
      parts <- Gen.chooseNum(2, 4)
    } yield (xs, parts)) { case (xs, parts) =>
      import spark.implicits._
      import graft.functions.Cms
      val df = xs.zipWithIndex.map { case (x, i) => (x, i % parts) }.toDF("x", "g")
      val oneShot = df.agg(Cms.sketch($"x", 4, 32).as("sk"))
        .select($"sk").as[Array[Byte]].head()
      val merged = df.groupBy("g").agg(Cms.sketch($"x", 4, 32).as("sk"))
        .agg(Cms.merge($"sk", 4, 32).as("sk")).select($"sk").as[Array[Byte]].head()
      val truth = xs.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      val skDf = df.agg(Cms.sketch($"x", 4, 32).as("sk"))
      val bounds = truth.forall { case (k, t) =>
        skDf.select(graft.functions.Cms.query($"sk", lit(k))).as[Long].head() >= t
      }
      java.util.Arrays.equals(oneShot, merged) && bounds
    }

  property("bloom: no false negatives, OR-merge of any split byte-equals one-shot") =
    Prop.forAll(for {
      xs <- Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      parts <- Gen.chooseNum(1, 5)
      bits <- Gen.oneOf(64, 256, 1024)
    } yield (xs, parts, bits)) { case (xs, parts, bits) =>
      import graft.functions.BloomFilterBits
      import org.apache.spark.sql.types.LongType
      val (h1, h2) = BloomFilterBits.hashers(LongType)
      val k = 5
      def build(vals: Seq[Long]): Array[Long] = {
        val buf = BloomFilterBits.emptyBuffer(bits)
        vals.foreach(v => BloomFilterBits.add(buf, h1(v), h2(v), bits, k))
        buf
      }
      val oneShot = build(xs)
      val merged = xs.zipWithIndex.groupBy(_._2 % parts).values
        .map(g => build(g.map(_._1)))
        .foldLeft(BloomFilterBits.emptyBuffer(bits))(BloomFilterBits.mergeInto)
      val noFalseNeg = xs.forall(v =>
        BloomFilterBits.mightContain(oneShot, h1(v), h2(v), bits, k))
      val tc = BloomFilterBits.typeClass(LongType)
      val roundTrip = BloomFilterBits.deserialize(
        BloomFilterBits.serialize(oneShot, bits, k, tc))
      Prop.propBoolean(oneShot.toSeq == merged.toSeq) :| "merge != one-shot" &&
        Prop.propBoolean(noFalseNeg) :| "false negative" &&
        Prop.propBoolean(roundTrip._1 == bits && roundTrip._2 == k &&
          roundTrip._3 == tc && roundTrip._4.toSeq == oneShot.toSeq) :| "serialize round-trip"
    }

  property("splitBounds covers the hash space: monotone, ends at full space") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(1, 1000))) { raw0 =>
      import graft.operators.Sampling
      // shrinking ignores generator bounds: clamp to keep weights positive
      val raw = raw0.map(w => math.max(1, math.abs(w)))
      val total = raw.sum.toDouble
      val splits = raw.zipWithIndex.map { case (w, i) => (s"s$i", w / total) }
      val bounds = Sampling.splitBounds(splits).map(_._2)
      val monotone = bounds.zip(bounds.tail).forall { case (a, b) => a <= b }
      // the final bound must reach the space within float-sum slack; the
      // runtime guards exhaustiveness by making the last split the
      // unconditional otherwise-branch
      val full = Sampling.threshold(1.0)
      Prop.propBoolean(monotone) :| "bounds not monotone" &&
        Prop.propBoolean(math.abs(bounds.last - full) <= full / 1e9) :| "last bound far from full space"
    }

  property("ImageIoCodec recovers true dimensions from any generated PNG") =
    Prop.forAll(for {
      w <- Gen.chooseNum(1, 40)
      h <- Gen.chooseNum(1, 40)
      seed <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    } yield (w, h, seed)) { case (w, h, seed) =>
      import graft.multimodal.Multimodal
      val (gw, gh, f) = Multimodal.ImageIoCodec.decode(
        "image", Multimodal.pngBytes(w, h, seed))
      gw == w && gh == h && f.length == 8 &&
        f.forall(v => v >= 0.0 && v <= 255.0)
    }

  private def vecsGen: Gen[(Seq[Seq[Double]], Int)] = for {
    dim <- Gen.chooseNum(2, 6)
    n <- Gen.chooseNum(9, 24) // >= 8 anchors + 1
    vecs <- Gen.listOfN(n, Gen.listOfN(dim,
      Gen.chooseNum(-100, 100).map(_ / 10.0)))
  } yield (vecs, dim)

  /** Plain-Scala reference of withBandedCodes (centered bits, 4x2 bands). */
  private def refBandedCodes(vecs: Seq[Seq[Double]]): Map[Long, Seq[Long]] = {
    val anchors = vecs.take(8)
    vecs.zipWithIndex.map { case (v, id) =>
      val dots = anchors.map(a => v.zip(a).foldLeft(0.0) { case (s, (x, y)) => s + x * y })
      val t = dots.reduceLeft(_ + _) / 8.0
      val bits = dots.map(d => if (d > t) 1L else 0L)
      val bands = (0 until 4).map(b => bits(b * 2) + 2L * bits(b * 2 + 1))
      (id.toLong, bands)
    }.toMap
  }

  property("withBandedCodes equals a plain-Scala reference on random vectors") =
    Prop.forAll(vecsGen) { case (vecs, _) =>
      import spark.implicits._
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      val anchors = df.filter($"vec_id" < 8).select($"vec_id".as("aid"), $"v".as("av"))
      val got = graft.operators.Similarity.withBandedCodes(df, anchors, bandBits = 2)
        .select("vec_id", "bands").as[(Long, Seq[Long])].collect().toMap
      got == refBandedCodes(vecs)
    }

  property("bandCandidates = brute-force any-band-agreement pair set, exactly once") =
    Prop.forAll(vecsGen) { case (vecs, _) =>
      import spark.implicits._
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      val anchors = df.filter($"vec_id" < 8).select($"vec_id".as("aid"), $"v".as("av"))
      val coded = graft.operators.Similarity.withBandedCodes(df, anchors, bandBits = 2)
      val q = coded.select($"vec_id".as("qid"), $"v".as("qv"), $"bands".as("qbands"))
      val got = graft.operators.Similarity.bandCandidates(coded, q, nBands = 4)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSeq
      val codes = refBandedCodes(vecs)
      val want = for {
        (q1, bq) <- codes.toSeq; (c, bc) <- codes.toSeq
        if (0 until 4).exists(b => bq(b) == bc(b))
      } yield (q1, c)
      // exactly once: the first-matching-band rule must emit no duplicates
      got.size == got.distinct.size && got.toSet == want.toSet
    }

  property("withProbes: 2^flip distinct probes that include the base bucket") =
    Prop.forAll(for { (v, d) <- vecsGen; flip <- Gen.chooseNum(1, 4) } yield (v, flip)) {
      case (vecs, flip) =>
        import spark.implicits._
        val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
        val anchors = df.filter($"vec_id" < 8).select($"vec_id".as("aid"), $"v".as("av"))
        val coded = graft.operators.Similarity.withBuckets(df, anchors)
        val rows = graft.operators.Similarity.withProbes(coded, anchors, flip)
          .select("bucket", "probes").as[(Long, Seq[Long])].collect()
        rows.forall { case (bucket, probes) =>
          probes.size == (1 << flip) &&
            probes.distinct.size == probes.size &&
            probes.contains(bucket) &&
            probes.forall(p => p >= 0L && p < 256L)
        }
    }

  // plain-Scala reference for the CDC fold: same per-token md5-prefix hash,
  // 31-weighted 4-lag boundary polynomial, cut-point partition
  private def refCdcChunkMd5s(toks: Seq[String]): Seq[String] = {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (toks.isEmpty) return Seq.empty // the operator filters empty docs
    val hs = toks.map(t => java.lang.Long.parseLong(md5hex(t).take(8), 16))
    val n = toks.length
    val bnds = (4 to n).filter { p =>
      (hs(p - 1) + hs(p - 2) * 31 + hs(p - 3) * 961 + hs(p - 4) * 29791) % 8 == 0
    }
    val ends = (bnds :+ n).distinct
    val starts = 0 +: ends.dropRight(1)
    starts.zip(ends).map { case (s, e) => md5hex(toks.slice(s, e).mkString(" ")) }
  }

  private val tokenGen: Gen[String] = for {
    len <- Gen.chooseNum(1, 8)
    cs <- Gen.listOfN(len, Gen.alphaNumChar)
  } yield cs.mkString

  property("cdcChunks fold equals a plain-Scala reference on random docs") =
    Prop.forAll(Gen.listOfN(3, Gen.chooseNum(0, 60).flatMap(Gen.listOfN(_, tokenGen)))) {
      docToks =>
        import spark.implicits._
        val df = docToks.zipWithIndex
          .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
          .toDF("doc_id", "text")
        val got = graft.operators.Dedup.cdcChunks(df, "doc_id", "text")
          .select($"doc_id", $"chunk_idx", $"chunk_md5")
          .as[(Long, Long, String)].collect()
          .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
        docToks.zipWithIndex.forall { case (ts, i) =>
          got.getOrElse(i.toLong, Seq.empty) == refCdcChunkMd5s(ts)
        }
    }

  // random multisets (heavy duplication by design: values from a narrow
  // range) + random rank sets; tiny bins/sortCap force the recursive
  // histogram path rather than the bounded-sort shortcut
  property("OrderStats.selectRanks equals the sorted reference on random multisets") =
    Prop.forAll(for {
      n <- Gen.chooseNum(1, 400)
      vals <- Gen.listOfN(n, Gen.chooseNum(-50L, 50L))
      nr <- Gen.chooseNum(1, 5)
      ranks <- Gen.listOfN(nr, Gen.chooseNum(1L, n.toLong))
    } yield (vals, ranks.distinct)) { case (vals, ranks) =>
      import spark.implicits._
      val df = vals.toDF("v").repartition(5).localCheckpoint(true)
      val (got, stats) = graft.operators.OrderStats.selectRanks(
        df, ranks, bins = 4, sortCap = 8)
      val sorted = vals.sorted
      ranks.forall(r => got(r) == sorted((r - 1).toInt)) &&
        stats.maxSorted <= 8
    }
}
