package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-similarity operators over `Array[Double]` embedding columns.
  *
  * The arithmetic is a strict left-to-right fold (`aggregate(zip_with(...))`)
  * so the DuckDB oracle (`list_sum(list_transform(...))`) produces bit-equal
  * doubles; outputs are rounded to 4 decimals *before* ranking so orderings
  * never depend on sub-ulp differences.
  *
  * Scale path: [[withBuckets]] implements sign-random-projection LSH using
  * in-data anchor vectors — an equi-join on the bucket id replaces the
  * quadratic cross join, which is the difference between feasible and not at
  * 100 TB. The anchors (a handful of rows) are inlined as literal arrays so
  * bucketing is a shuffle-free projection; only the downstream bucket join
  * shuffles, on a high-cardinality key.
  */
object Similarity {

  /** Sequential dot product of two double-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm (sequential fold, same order as the oracle). */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Composed-fold cosine (plain Spark functions only). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native codegen'd cosine (bit-identical to [[cosine]]; `cosine_sim`
    * from [[graft.plans.GraftExtensions]]).
    */
  def cosineNative(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** Embeddings normalized to (vec_id, v: array<double>, label). */
  def prepared(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))

  /** Brute-force top-k neighbours for each query vector (broadcast the small
    * query side, rank by rounded cosine with vec_id tie-break).
    */
  def bruteForceTopK(vecs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val sims = vecs.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
              round(cosineNative(col("v"), col("qv")), 4).as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    sims.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Sign-random-projection LSH bucket column: bit i = sign(dot(v, anchor_i)).
    * Anchors come from the data itself (deterministic, oracle-reproducible).
    *
    * The anchors are a handful of rows by construction, so they are
    * collected once to the driver and inlined as literal arrays — the
    * bucket becomes a single narrow projection over the vector column:
    * zero shuffle (no crossJoin fan-out, no groupBy, no join back on
    * vec_id). The per-anchor dot product keeps the exact
    * `aggregate(zip_with(...))` fold the oracle uses, and the bit sum is an
    * integer sum in anchor-id order — bit-identical to the former
    * crossJoin+groupBy form.
    */
  /** Collect + validate the anchor set (a handful of rows by construction). */
  private def collectAnchors(anchors: DataFrame): Array[(Long, Seq[Double])] = {
    val collected = anchors.select(col("aid").cast("long"), col("av"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    // an empty/degenerate anchor set would silently put EVERY vector in
    // bucket 0 — turning the bucket equi-join into the quadratic self-join
    // LSH exists to avoid. Fail loudly instead of degrading silently.
    require(collected.nonEmpty, "anchor set is empty — no LSH buckets to assign")
    require(collected.forall(_._2 != null), "anchor vectors must be non-null")
    // a negative aid would wrap (shift count is mod 64) and a duplicate aid
    // double-adds the same bit weight — both silently corrupt bucket ids
    require(collected.forall(t => t._1 >= 0 && t._1 < 63),
      "anchor ids must be in [0, 63) to fit a long bitmask")
    require(collected.map(_._1).distinct.length == collected.length,
      "anchor ids must be unique")
    collected
  }

  def withBuckets(vecs: DataFrame, anchors: DataFrame): DataFrame = {
    val collected = collectAnchors(anchors)
    val bucket = collected
      .map { case (aid, av) =>
        // typedLit: ONE Literal node per anchor (a CreateArray of 64 lit
        // children costs ~64x the analysis/codegen budget per expression and
        // constant-folds to the same ArrayData anyway — r12, measured as
        // driver-side analysis dominating the vector queries)
        val litAnchor = typedLit(av)
        when(dot(col("v"), litAnchor) > 0, lit(1L << aid.toInt)).otherwise(lit(0L))
      }
      .reduce(_ + _)
    vecs.withColumn("bucket", bucket.cast("long"))
  }

  /** Multi-probe expansion for the query side: adds `probes: array<bigint>` —
    * the 2^`flip` bucket ids reached by flipping every subset of the `flip`
    * hyperplanes the query vector is CLOSEST to (lowest |margin| = lowest
    * |dot(v, anchor)|). Those are exactly the bits a true neighbour is most
    * likely to disagree on, so recall per probed bucket is far higher than
    * blind Hamming-ball probing (standard multi-probe LSH).
    *
    * Ties in margin break by anchor id (ascending) so the probe set is
    * deterministic and oracle-reproducible. The probe masks XOR distinct bit
    * positions over distinct subsets, so all 2^flip probes are distinct —
    * downstream `explode(probes)` + bucket equi-join can never duplicate a
    * (query, candidate) pair, because each candidate lives in exactly one
    * bucket.
    *
    * Scale shape: still a narrow projection on the query side (the anchors
    * ride in one function's closure, margins computed per-row) followed by
    * the same shuffle-on-bucket equi-join as single-probe LSH — the probe
    * factor multiplies only the (small) query side, never the corpus.
    */
  def withProbes(queries: DataFrame, anchors: DataFrame, flip: Int): DataFrame = {
    val collected = collectAnchors(anchors)
    require(flip >= 1 && flip <= collected.length,
      s"flip must be in [1, ${collected.length}]")
    require(flip <= 16, "2^flip probes per query — cap flip at 16")
    val anchorVecs = collected.map { case (aid, av) => (aid.toInt, av.toArray) }
    // the anchors ride in this function's closure, so the plan prints
    // `UDF(v, bucket)`, not 8 × 64 literal doubles in every plan section
    // and again in each predicate pushed through this projection (an
    // explode's inferred `size(probes) > 0`)
    val probesOf = udf { (v: Seq[java.lang.Double], bucket: Long) =>
      // |dot(v, anchor)| by the same left-to-right fold as [[dot]]; None
      // where that fold is null (null vector or element, length mismatch)
      def margin(a: Array[Double]): Option[Double] =
        if (v == null || v.length != a.length || v.contains(null)) None
        else Some(math.abs(a.indices.foldLeft(0.0)((acc, i) => acc + v(i) * a(i))))
      // the weak bits: (|margin|, aid) ascending, a null margin first
      val weak = anchorVecs.map { case (aid, a) => (margin(a), aid) }
        .sorted(Ordering.Tuple2(Ordering.Option(Ordering.Double.TotalOrdering), Ordering.Int))
        .take(flip).map(w => 1L << w._2)
      // probe s = bucket XOR the masks of s's set bits
      (0 until (1 << flip)).map { s =>
        weak.indices.foldLeft(bucket)((p, j) => if ((s >> j & 1) == 1) p ^ weak(j) else p)
      }
    }
    queries.withColumn("probes", probesOf(col("v"), col("bucket")))
  }

  /** Assignment step of Lloyd k-means: each vector gets the centroid with
    * the smallest squared L2 distance (the SAME sequential fold the DuckDB
    * oracle uses, rounded to 6 decimals BEFORE the argmin; ties break by
    * centroid id via array_sort's lexicographic struct order). Centroids are
    * driver-held literals — k tiny rows — so assignment is one narrow
    * projection over the corpus: no join, no shuffle.
    */
  def kmeansAssign(vecs: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "centroid set is empty")
    vecs.withColumn("best", nearest(col("v"), cents))
      .select(col("vec_id"), col("v"),
        col("best").getField("cid").as("cluster"),
        col("best").getField("dist").as("dist"))
  }

  /** The (dist, cid) struct of the entry of `codes` nearest to `v` — the
    * [[kmeansAssign]] rule, shared with [[pqEncode]]. `sq_dist` is native
    * codegen'd, bit-identical to the aggregate(zip_with) fold it replaced.
    */
  private def nearest(v: Column, codes: Seq[(Int, Seq[Double])]): Column = {
    val scored = array(codes.map { case (cid, cv) =>
      struct(
        round(graft.functions.DistanceFunctions.sqDist(v, typedLit(cv)), 6).as("dist"),
        lit(cid).as("cid"))
    }: _*)
    // element_at(array_sort(...), 1), NOT array_min: tried in r13 — the
    // identical least element, but ArrayMin's interpreted-ordering eval
    // measured 4x SLOWER on the PQ scans (sim_pq_ann 1.38 -> 6.07 s,
    // same plan shape); the sort form stays
    element_at(array_sort(scored), 1)
  }

  /** `rounds` Lloyd update rounds from deterministic seeds (the first k
    * vectors by id). Each round: [[kmeansAssign]] (narrow projection), then
    * an element-wise mean per cluster via [[graft.functions.CentroidAgg]]
    * (map-side-combined partials — raw vectors never shuffle), collected as
    * k tiny rows and rounded to 6 decimals before they feed the next round.
    * The rounding re-synchronizes engine float noise (partial-agg sum order
    * differs) every round instead of letting it compound into assignment
    * flips — that is what makes a multi-round iterative algorithm
    * hash-reproducible by a different engine. Empty clusters keep their
    * previous centroid. MLlib's k-means communication pattern, on the
    * public DataFrame API.
    */
  def kmeansFit(vecs: DataFrame, k: Int, rounds: Int, dim: Int = 64): Seq[(Int, Seq[Double])] = {
    require(k >= 1 && rounds >= 0, s"need k >= 1, rounds >= 0; got k=$k rounds=$rounds")
    val centroidUdaf = udaf(new graft.functions.CentroidAgg(dim))
    var cents: Seq[(Int, Seq[Double])] = vecs.filter(col("vec_id") < k)
      .orderBy("vec_id").select("vec_id", "v").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
    require(cents.nonEmpty, s"no seed vectors with vec_id < $k")
    for (_ <- 1 to rounds) {
      val means = kmeansAssign(vecs, cents).groupBy("cluster")
        .agg(centroidUdaf(col("v")).as("c"))
        .select(col("cluster"), transform(col("c"), x => round(x, 6)).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).toMap
      cents = cents.map { case (cid, cv) => (cid, means.getOrElse(cid, cv)) }
    }
    cents
  }

  /** (vec_id, bucket) projection of [[withBuckets]] — kept for callers that
    * want the bucket relation alone.
    */
  def bucketize(vecs: DataFrame, anchors: DataFrame): DataFrame =
    withBuckets(vecs, anchors).select("vec_id", "bucket")

  /** Banded sign-LSH codes (OR-amplification): adds `bands: array<bigint>`
    * with `anchors.count / bandBits` values, band b packing sign bits
    * `b*bandBits .. b*bandBits+bandBits-1`. Two refinements over the single
    * 8-bit code of [[withBuckets]]:
    *
    *   - bits are CENTERED: bit_i = dot(v, a_i) > mean_j dot(v, a_j), i.e.
    *     the hyperplanes pass through the anchor centroid instead of the
    *     origin — better-balanced bits when the corpus has a mean component;
    *   - a candidate matches if it agrees on ALL bits of ANY band (classic
    *     MinHash-style banding). AND-within-band tightens precision,
    *     OR-across-bands recovers recall that no amount of probing a single
    *     long code can: for isotropic data where a true neighbour disagrees
    *     with each hyperplane with probability p (~0.39 on the test
    *     embeddings, whose top-3 neighbours sit at ~70°), a k-bit band
    *     matches with (1-p)^k and L bands give 1-(1-(1-p)^k)^L — tunable to
    *     any recall target, while single-code multi-probe is capped by the
    *     Hamming ball it can afford to explore.
    *
    * The centering threshold is the SAME left-to-right fold in anchor-id
    * order on both engines (Spark reduce vs DuckDB list_sum over an
    * aid-ordered list), so codes are bit-reproducible by the oracle.
    */
  def withBandedCodes(vecs: DataFrame, anchors: DataFrame, bandBits: Int): DataFrame = {
    val collected = collectAnchors(anchors)
    require(bandBits >= 1 && collected.length % bandBits == 0,
      s"bandBits=$bandBits must divide the anchor count ${collected.length}")
    val nBands = collected.length / bandBits
    val dots = collected.map { case (_, av) => dot(col("v"), typedLit(av)) }
    // materialize dots as columns: each is an interpreted HOF fold referenced
    // twice (bit + threshold); CollapseProject keeps non-cheap
    // multi-referenced aliases as separate projections, so this sticks
    val withD = vecs
      .withColumns(dots.zipWithIndex.map { case (c, i) => s"__d$i" -> c }.toMap)
      .withColumn("__t",
        dots.indices.map(i => col(s"__d$i")).reduce(_ + _) / lit(collected.length.toDouble))
    def bit(i: Int): Column =
      when(col(s"__d$i") > col("__t"), lit(1L)).otherwise(lit(0L))
    val bandVals = (0 until nBands).map { b =>
      (0 until bandBits).map(j => bit(b * bandBits + j) * lit(1L << j)).reduce(_ + _)
    }
    withD.withColumn("bands", array(bandVals: _*))
      .drop(dots.indices.map(i => s"__d$i") :+ "__t": _*)
  }

  /** Candidate (query, corpus) pairs under banded codes: a pair qualifies if
    * it agrees on any band and is emitted exactly once — the same join the
    * dedup families pair through ([[Dedup.firstBandJoin]]), each side's
    * bands read from its code array. Both sides explode by band index, so
    * the exchange is nBands× the corpus — the accepted banding cost.
    *
    * `corpus` must carry (vec_id, v, bands); `queries` (qid, qv, qbands).
    * Output: the corpus columns, `cb`/`cbv` (its band index and value), the
    * query columns, `qb`/`qbv`.
    */
  def bandCandidates(corpus: DataFrame, queries: DataFrame, nBands: Int): DataFrame = {
    def long(df: DataFrame, bands: String) = Dedup.explodeBands(df,
      df.columns.toIndexedSeq, (1 to nBands).map(j => element_at(col(bands), j)))
    def side(df: DataFrame, p: String, bi: String, bv: String) =
      df.columns.map(c => col(p + c).as(c)) ++
        Seq(col(s"${p}band_idx").as(bi), col(s"${p}band_val").as(bv))
    Dedup.firstBandJoin(long(corpus, "bands"), long(queries, "qbands"), nBands,
        (p, i) => element_at(col(if (p == "a_") "a_bands" else "b_qbands"), i + 1))
      .select(side(corpus, "a_", "cb", "cbv") ++ side(queries, "b_", "qb", "qbv"): _*)
  }

  // ---- product quantization -------------------------------------------------

  /** PQ geometry: M subspaces × Sub dims each over the 64-dim fixture;
    * K codewords per subspace → an 8-byte code per vector (one codeword id
    * per subspace) in place of 512 bytes of doubles — the 64× memory
    * compression that lets a 100 TB embedding corpus live in executor RAM
    * for ANN scans.
    */
  val PqM = 8
  val PqSub = 8
  val PqK = 16
  val PqKmRounds = 2

  /** Per-subspace PQ codebooks, LLOYD-REFINED: each of the [[PqM]]
    * subspaces runs [[kmeansFit]] over the corpus's [[PqSub]]-dim
    * sub-slices (k = [[PqK]], [[PqKmRounds]] rounds, seeds = the first K
    * vectors' slices — the standard kmeansFit convention), exactly the
    * training step Jégou et al.'s product quantizer prescribes. The
    * round-6dp centroid re-sync makes the refinement oracle-replayable
    * like every other k-means here, and refinement changes ONLY the
    * codebook source — [[pqEncode]]/[[pqAdc]] consume the refined
    * codewords unchanged. Returns, per subspace m, the (codeword id,
    * Sub-dim sub-vector) list; K tiny rows per subspace collect to the
    * driver — the sanctioned literal-centroid pattern. (The raw-seed
    * predecessor capped IVF-PQ recall@5 at 0.4 on the test fixture;
    * AnnRecallSpec pins the refined floors.)
    */
  def pqCodebooks(vecs: DataFrame): Seq[Seq[(Int, Seq[Double])]] =
    (0 until PqM).map { m =>
      val sub = vecs.select(col("vec_id"),
        slice(col("v"), m * PqSub + 1, PqSub).as("v"))
      kmeansFit(sub, k = PqK, rounds = PqKmRounds, dim = PqSub)
    }

  /** PQ encoding: per subspace, the codeword with the smallest squared L2
    * to the vector's sub-slice (distances rounded to 6 decimals BEFORE the
    * argmin, ties by codeword id — the [[kmeansAssign]] determinism rule,
    * per subspace). Codebooks ride as literals, so encoding is one narrow
    * codegen'd projection: no join, no shuffle, M×K `sq_dist` calls per
    * row.
    */
  def pqEncode(vecs: DataFrame, cbs: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    cbs.zipWithIndex.foldLeft(vecs) { case (df, (cb, m)) =>
      df.withColumn(s"c$m",
        nearest(slice(col("v"), m * PqSub + 1, PqSub), cb).getField("cid"))
    }
  }

  /** Asymmetric-distance (ADC) approximate distance from a FULL query
    * vector to an ENCODED corpus vector: Σₘ sqDist(query sub-slice,
    * codeword[codeₘ]) — the query side stays exact, the corpus side is 8
    * bytes. Each per-subspace term is rounded to 6 decimals (so the sum is
    * the same double on every engine); codeword lookup is a literal
    * when-chain, keeping the whole distance inside whole-stage codegen.
    */
  def pqAdc(qv: Column, codes: Seq[Column], cbs: Seq[Seq[(Int, Seq[Double])]]): Column =
    cbs.zipWithIndex.map { case (cb, m) =>
      val sub = slice(qv, m * PqSub + 1, PqSub)
      // codeword lookup = element_at over ONE literal K×Sub matrix node
      // (typedLit), replacing a K-branch when-chain of K CreateArrays: the
      // expression tree shrinks ~K·Sub×, which removes the per-execution
      // driver analysis + whole-stage codegen cost that dominated the PQ
      // scans (r12; jstack showed Janino and CreateArray.dataType, not the
      // executors, as the hot frames). Codeword ids are dense 0..K-1 by
      // kmeansFit construction — asserted, since the matrix is positional.
      // A code outside [0, K) still fails loudly instead of silently
      // yielding a NULL distance that sinks the row to the ranking bottom.
      val sorted = cb.sortBy(_._1)
      require(sorted.map(_._1) == (0 until sorted.size),
        s"pqAdc: subspace $m codeword ids not dense 0..${sorted.size - 1}: " +
          sorted.map(_._1).mkString(","))
      val mat = typedLit(sorted.map(_._2))
      val cw = when(codes(m) >= 0 && codes(m) < sorted.size,
          element_at(mat, codes(m).cast("int") + 1))
        .otherwise(raise_error(concat(
          lit(s"pqAdc: code for subspace $m outside codebook [0,${sorted.size}), got "),
          codes(m).cast("string"))))
      round(graft.functions.DistanceFunctions.sqDist(sub, cw), 6)
    }.reduce(_ + _)

  /** Residual vectors v − seed(cell) for IVF-PQ residual encoding — the
    * actual IVFADC recipe of Jégou et al. 2011 (§III): within a Voronoi
    * cell the residuals are near-zero-mean and much lower-variance than
    * the raw vectors, so the same [[PqK]] codewords per subspace carry
    * more precision when they quantize residuals. Exact double
    * subtraction (no rounding needed — both engines compute the identical
    * IEEE difference of stored values). The seed side is the IVF centroid
    * table (k = n/[[graft.queries.SimilarityQueries.IvfCellTarget]] rows),
    * broadcast exactly as cell assignment already broadcasts it, so the
    * residual projection is narrow — no corpus shuffle.
    */
  def cellResiduals(assigned: DataFrame, seeds: DataFrame): DataFrame =
    assigned.join(org.apache.spark.sql.functions.broadcast(seeds),
        col("cell") === col("sid"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("sv"), (a, b) => a - b).as("v"))
}
