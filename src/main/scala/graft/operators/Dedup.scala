package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus cleaning: exact
  * (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket-join),
  * SimHash, and n-gram Jaccard.
  *
  * Hash primitives are md5-based so the exact same signatures are computable
  * in the DuckDB oracle (lexicographic MIN over lowercase hex strings is
  * engine-neutral; no engine-specific hash functions). At 100 TB the
  * expensive parts are the explode fan-outs and the band self-join — both are
  * plain shuffles on high-cardinality keys (token, band value) with no
  * driver-side state, so they parallelize linearly; the LSH band join keeps
  * the pair space far below the quadratic brute-force cross join.
  */
object Dedup {

  /** A constant-but-NON-FOLDABLE window partition key: `pmod(c, 1)` ≡ 0
    * for any value, but Catalyst cannot fold it away (a plain `lit(0)`
    * IS folded out of the partition spec, leaving it empty again). Use on
    * windows over deliberately-tiny frames to suppress WindowExec's
    * single-partition WARN — the flood (1000+ lines per bench run) is
    * enough to drown a run's machine-readable output tail — while
    * changing nothing about the plan's actual (bounded) shape.
    */
  def constantPartitionKey(c: Column): Column = pmod(c, lit(1L))

  /** Distinct (id, token) rows — the shingle set for token-level MinHash. */
  def distinctTokenRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("token")).distinct()

  /** Substring-span cut over any (id, text) frame: find every `w`-token
    * window duplicated across documents, keep its FIRST occurrence
    * (min id, min start), and delete the tokens of every later copy —
    * the RefinedWeb-style exact-substring pass as a reusable operator.
    *
    * Returns (idCol, n_tokens, n_cut, kept_text) where `kept_text` is the
    * surviving tokens rejoined with single spaces (whitespace-normalizing
    * for docs whose original text had runs of spaces). Docs with fewer
    * than `w` tokens pass through uncut; docs with ZERO tokens fall out
    * of the token stream entirely — callers keeping such docs must
    * left-join and coalesce back to the original text.
    *
    * Scale shape: window hashes are built in array-land so the exploded
    * stream carries 40-byte rows; the cut set is candidate-sized (only
    * duplicated windows explode to positions); the rebuild is one
    * groupBy over the corpus token stream.
    */
  def spanCut(docs: DataFrame, idCol: String, textCol: String, w: Int = 8): DataFrame = {
    // spread BEFORE the tokenize + per-window md5 map: a single-split scan
    // otherwise runs the whole corpus window build in one task (r13,
    // measured: a 2.3 s 1-task checkpoint job inside dedup_spans_cut on a
    // 32-core session); identity at scale — see Materialize.spread
    val base = Materialize.spread(
      docs.select(col(idCol), col(textCol)), col(idCol))
    // consumed twice (duplicate-set groupBy, occurrence semi-join)
    val wins = base
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("toks")) - w + 1),
        i => struct(i.cast("long").as("start"),
                    md5(concat_ws(" ", slice(col("toks"), i, lit(w)))).as("span_md5"))))
        .as("sp"))
      .select(col(idCol), col("sp.start"), col("sp.span_md5"))
      .transform(Materialize.frame)
    val dup = wins.groupBy("span_md5")
      .agg(countDistinct(idCol).as("nd"))
      .filter(col("nd") >= 2)
      .select("span_md5")
    val cut = wins.join(dup, Seq("span_md5"), "left_semi")
      .withColumn("rn", row_number().over(
        Window.partitionBy("span_md5").orderBy(idCol, "start")))
      .filter(col("rn") > 1)
      .select(col(idCol),
              explode(sequence(col("start"), col("start") + lit(w - 1))).as("p"))
      .distinct()
      .withColumn("__cut", lit(1))
    val tok = base
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("p"),
              col("col").as("tok"))
    tok.join(cut, Seq(idCol, "p"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
           count(col("__cut")).as("n_cut"),
           concat_ws(" ", transform(
             array_sort(collect_list(
               when(col("__cut").isNull, struct(col("p"), col("tok"))))),
             x => x.getField("tok"))).as("kept_text"))
  }

  /** MinHash signatures: k permutations realized as md5("<i>:" + token);
    * signature element i = MIN of that keyed hash over the doc's token set.
    * Returns (idCol, m0..m{k-1}).
    */
  def minhashSignatures(tokenRows: DataFrame, idCol: String, k: Int): DataFrame = {
    val aggs = (0 until k).map { i =>
      min(md5(concat_ws(":", lit(i), col("token")))).as(s"m$i")
    }
    tokenRows.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashSignatures]] over per-document distinct token sets
    * (`(idCol, set)`, as [[distinctTokenSets]] returns): element i is the
    * set's MIN of `md5("<i>:" + token)`, bit-identical to the grouped form
    * over the same distinct tokens, but a per-row map with no shuffle. A
    * zero-token document gets null elements, so its bands are null and it
    * pairs with nothing, as it has no token rows in the grouped form.
    * Returns (idCol, m0..m{k-1}).
    */
  def minhashSetSignatures(sets: DataFrame, idCol: String, k: Int): DataFrame =
    sets.select(col(idCol) +: (0 until k).map { i =>
      array_min(transform(col("set"), t => md5(concat_ws(":", lit(i), t)))).as(s"m$i")
    }: _*)

  /** LSH bands over a signature: band j = md5(concat of its r signature
    * elements). Returns (idCol, band0..band{k/r-1}).
    */
  def minhashBands(sig: DataFrame, idCol: String, k: Int, r: Int): DataFrame = {
    require(k % r == 0, "k must be divisible by r")
    val bands = (0 until k / r).map { j =>
      md5(concat((j * r until (j + 1) * r).map(i => col(s"m$i")): _*)).as(s"band$j")
    }
    sig.select(col(idCol) +: bands: _*)
  }

  /** Candidate pairs (a < b) sharing at least one LSH band: [[longBands]]
    * self-joined through [[firstBandJoin]], so each pair is emitted once,
    * at its lowest shared band, with no `distinct()` exchange over the
    * band-duplicated pair stream (pairs collide in ~4 bands each on
    * near-identical docs).
    *
    * `maxBucket` (optional) neutralizes band values shared by more than that
    * many docs before pairing — the skew guard for 100 TB corpora, where a
    * mass exact-duplicate (boilerplate page, empty doc) otherwise turns one
    * band bucket into O(bucket²) pairs. Hot band values are set to NULL
    * (never equal) rather than their rows dropped, so a pair that ALSO
    * shares a small band is still emitted there — only pairs whose every
    * shared band is hot are suppressed (those are exact-dedup's job).
    * The oracle queries use the uncapped default for bit-parity.
    */
  def lshCandidatePairs(bands: DataFrame, idCol: String, nBands: Int,
                        maxBucket: Option[Int] = None): DataFrame = {
    val capped = maxBucket match {
      case None => bands
      case Some(cap) =>
        (0 until nBands).foldLeft(bands) { (df, j) =>
          val hot = df.groupBy(col(s"band$j").as("__hv"))
            .agg(count(lit(1)).as("__bn")).filter(col("__bn") > cap)
            .select("__hv")
          df.join(broadcast(hot), col(s"band$j") === col("__hv"), "left_outer")
            .withColumn(s"band$j",
              when(col("__hv").isNotNull, lit(null)).otherwise(col(s"band$j")))
            .drop("__hv")
        }
    }
    lshSelfCandidatePairsLong(longBands(capped, idCol, nBands), idCol, nBands)
  }

  /** Long band rows: one row per (row, band) holding the `carry` columns,
    * then `band_idx`, `band_val` and `band_key`, with null band values
    * dropped. `band_key` fuses (band_idx, band_val) into ONE column (':'
    * cannot occur in the int band_idx, so key equality IS pair equality):
    * a join clusters on it alone, which is what lets a table bucketed on
    * `band_key` feed [[firstBandJoin]] with no exchange — Spark
    * co-partitions only when the bucket columns are exactly the equi keys.
    */
  private[operators] def explodeBands(df: DataFrame, carry: Seq[String],
                                      bands: Seq[Column]): DataFrame = {
    val entries = array(bands.zipWithIndex.map { case (b, j) =>
      struct(lit(j).as("bi"), b.as("bv")) }: _*)
    val kept = carry.map(col)
    df.select(kept :+ explode(entries).as("e"): _*)
      .select(kept :+ col("e.bi").as("band_idx") :+ col("e.bv").as("band_val"): _*)
      .filter(col("band_val").isNotNull)
      .withColumn("band_key", concat_ws(":", col("band_idx"), col("band_val")))
  }

  /** The one band join every LSH and Hamming family pairs through: two
    * [[explodeBands]] frames equi-joined on `band_key`, keeping a pair only
    * at the LOWEST band index both rows share (the first-matching-band
    * rule), so a pair colliding in several bands is emitted once and no
    * `distinct()` exchange is paid. Every column comes back prefixed `a_` /
    * `b_`. `band(p, i)` reads band i of the side whose columns carry prefix
    * `p`: a carried band column, a band recomputed from a carried hash, or
    * an array element. A null band never matches. `selfId` makes it a
    * self-join that keeps only a < b on that column.
    */
  private[operators] def firstBandJoin(a: DataFrame, b: DataFrame, nBands: Int,
                                       band: (String, Int) => Column,
                                       selfId: Option[String] = None): DataFrame = {
    def pfx(df: DataFrame, p: String) = df.toDF(df.columns.map(p + _).toIndexedSeq: _*)
    val firstMatch = (0 until nBands).map { i =>
      col("a_band_idx") <= i || coalesce(band("a_", i) =!= band("b_", i), lit(true))
    }
    val conds = (col("a_band_key") === col("b_band_key")) +:
      (selfId.map(id => col(s"a_$id") < col(s"b_$id")).toSeq ++ firstMatch)
    pfx(a, "a_").join(pfx(b, "b_"), conds.reduce(_ && _))
  }

  /** Band i of a [[longBands]] side: its carried `band<i>` column. */
  private def carriedBand(p: String, i: Int): Column = col(s"${p}band$i")

  /** Wide band table `(idCol, band0..band{n-1})` in [[explodeBands]]'s long
    * form `(idCol, band0..band{n-1}, band_idx, band_val, band_key)`. The
    * wide columns ride along because [[firstBandJoin]] reads every band on
    * both sides. This is the PERSISTABLE shape of LSH dedup state
    * ([[Layout.writeBucketed]] on `band_key`).
    */
  def longBands(bands: DataFrame, idCol: String, nBands: Int): DataFrame = {
    val bandCols = (0 until nBands).map(j => s"band$j")
    explodeBands(bands, idCol +: bandCols, bandCols.map(col))
  }

  /** Cross-set candidate pairs `(a, b)`: a from `bandsA`, b from `bandsB`,
    * sharing at least one LSH band — the INCREMENTAL form of
    * [[lshCandidatePairs]] for matching an incoming batch against a
    * standing corpus (ids must be disjoint across the two frames; no
    * within-set pairs form).
    */
  def lshCrossCandidatePairs(bandsA: DataFrame, bandsB: DataFrame,
                             idCol: String, nBands: Int): DataFrame =
    lshCrossCandidatePairsLong(longBands(bandsA, idCol, nBands),
                               longBands(bandsB, idCol, nBands), idCol, nBands)

  /** [[lshCrossCandidatePairs]] over ALREADY-long band frames (the stored
    * form [[longBands]] produces) — the rolling-ingest entry point: the
    * corpus side coming off a `band_key`-bucketed table satisfies
    * [[firstBandJoin]]'s clustering exactly and the (huge) corpus never
    * shuffles; only the (small) incoming batch does.
    */
  def lshCrossCandidatePairsLong(longA: DataFrame, longB: DataFrame,
                                 idCol: String, nBands: Int): DataFrame =
    firstBandJoin(longA, longB, nBands, carriedBand)
      .select(col(s"a_$idCol").as("a"), col(s"b_$idCol").as("b"))

  /** WITHIN-set candidate pairs (a < b) over one ALREADY-long band frame —
    * [[lshCandidatePairs]] for a corpus whose band table is persisted
    * state ([[longBands]] written via `Layout.writeBucketed` on
    * `band_key`). Self-joining a table bucketed on exactly the equi key
    * means NEITHER side shuffles: full-corpus re-clustering reads the
    * stored state twice and pays zero exchanges before the verify stage.
    */
  def lshSelfCandidatePairsLong(long: DataFrame, idCol: String,
                                nBands: Int): DataFrame =
    firstBandJoin(long, long, nBands, carriedBand, Some(idCol))
      .select(col(s"a_$idCol").as("a"), col(s"b_$idCol").as("b"))

  /** Exact set-overlap statistics `(a, b, n_inter, sz_a, sz_b)` for
    * candidate pairs via packed 64-bit token bitmasks: tokens get dense ids
    * from a distributed vocabulary numbering, each doc's set becomes a map
    * word->bitmask, and |A∩B| is a popcount loop — constant small work per
    * pair instead of per-token joins or string-array intersections. Exact,
    * not approximate (the id→token bijection only relabels bits, so
    * intersection popcounts are invariant). Jaccard, containment, overlap
    * coefficient etc. are one projection away ([[jaccardVerifyBitset]]).
    *
    * Scale posture: nothing here is vocabulary-sized on a single node — id
    * assignment is a bucketed window + a B-row offset join, and the
    * token→id join is a plain shuffled equi-join (AQE may broadcast it when
    * small, but it is never forced).
    *
    * @param idBuckets bucket count for the dense-id numbering: bounds BOTH
    *   the offsets-broadcast size (exactly `idBuckets` rows) and the
    *   parallelism of the vocabulary-numbering window — raise it for very
    *   large vocabularies (target ~10^5–10^6 tokens per bucket).
    */
  def bitsetPairStats(cand: DataFrame, tokenRows: DataFrame, idCol: String,
                      idBuckets: Int = 1 << 10,
                      materializeMasks: Boolean = false): DataFrame = {
    // The mask table is probed TWICE (a-side and b-side of the candidate
    // join). Left lazy, self-join deduplication hands the two probes
    // different expression ids, the canonical plans stop matching, and
    // exchange reuse no longer collapses them — the entire vocab-numbering
    // + bitset aggregation runs once PER SIDE (measured at sf0.1 as twin
    // concurrent ~1.2 s stage chains inside every incremental verify).
    // `materializeMasks` builds the table once — "build the index once,
    // probe it per side" — hash-spread on the id so the probe stage
    // inherits parallelism (r12; guide §2.4 "share one exchange"). It is
    // OPT-IN: for candidate sets whose mask build is sub-second the eager
    // checkpoint interrupts an otherwise fully-lazy plan for a net loss
    // (measured +0.9 s on dedup_decontam_purge), so only the heavy
    // corpus/incremental verifies enable it.
    val masks0 = tokenMasks(tokenRows, idCol, idBuckets)
    val masks =
      if (materializeMasks) Materialize.shared(masks0, col(idCol)) else masks0
    bitsetPairStatsFromMasks(cand, masks, idCol)
  }

  /** The per-id bitset masks [[bitsetPairStats]] probes: `(id, mm, sz)`
    * where `mm` maps 64-bit word index → mask over a dense numbering of
    * the DISTINCT tokens in `tokenRows`, and `sz` is the id's distinct
    * token count. Exposed so consumers sharing one token relation (the
    * 3-gram shingle verifiers) can build the mask table ONCE and probe it
    * per candidate set — the numbering depends on the token set, but
    * every quantity a verify reads (`n_inter`, `sz_a`, `sz_b`) is
    * invariant under renumbering, so probing a superset-built mask table
    * returns bit-identical stats to a per-query build.
    */
  def tokenMasks(tokenRows: DataFrame, idCol: String,
                 idBuckets: Int = 1 << 10): DataFrame = {
    require(idBuckets > 0, s"idBuckets must be positive, got $idBuckets")
    // Distributed dense-id assignment, entirely inside Catalyst (no RDD
    // round-trip, no extra zipWithIndex job): hash each distinct token into
    // one of B buckets, number tokens within a bucket (a distributed window
    // partitioned on the bucket), then add per-bucket offsets. The offsets
    // frame is exactly B rows — ITS broadcast is bounded by construction,
    // unlike the vocabulary itself. The bijection is a pure function of the
    // token set (no range-partitioner sampling, no partition-order
    // dependence), so the masks subtree sees the same ids every time it is
    // recomputed or a stage retries.
    val buckets = idBuckets
    val vocabBase = tokenRows.select("token").distinct()
      .withColumn("__bk", pmod(xxhash64(col("token")), lit(buckets.toLong)))
    val local = vocabBase.withColumn("__rn",
      row_number().over(Window.partitionBy("__bk").orderBy("token")).cast("long") - 1)
    // the cumulative sum is over ≤ `buckets` rows by construction;
    // constantPartitionKey silences WindowExec's single-partition WARN
    // without changing the (bounded) plan shape
    val offsets = vocabBase.groupBy("__bk").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(
        sum("__n").over(Window.partitionBy(constantPartitionKey(col("__bk"))).orderBy("__bk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__bk", "__off")
    val vocab = local.join(broadcast(offsets), "__bk")
      .select(col("token"), (col("__off") + col("__rn")).as("tid"))
    // vocab-sized join: deliberately NO broadcast hint — a web-scale corpus
    // has a vocabulary far beyond driver/executor broadcast limits, so this
    // must stay a plain equi-join on `token`; AQE still picks broadcast on
    // its own when the vocab actually fits.
    tokenRows.join(vocab, "token")
      .select(col(idCol),
              (col("tid") / 64).cast("long").as("w"),
              expr("shiftleft(CAST(1 AS BIGINT), CAST(tid % 64 AS INT))").as("m"))
      .groupBy(col(idCol), col("w")).agg(expr("bit_or(m)").as("mask"))
      .groupBy(col(idCol))
      .agg(map_from_entries(sort_array(collect_list(struct(col("w"), col("mask"))))).as("mm"),
           sum(expr("bit_count(mask)")).as("sz"))
  }

  /** The pair-probe half of [[bitsetPairStats]]: join each candidate side
    * to a prebuilt [[tokenMasks]] table and popcount the intersection.
    */
  def bitsetPairStatsFromMasks(cand: DataFrame, masks: DataFrame,
                               idCol: String): DataFrame = {
    val ma = masks.select(col(idCol).as("a"), col("mm").as("__ma"), col("sz").as("__za"))
    val mb = masks.select(col(idCol).as("b"), col("mm").as("__mb"), col("sz").as("__zb"))
    // |A∩B| runs once per CANDIDATE PAIR — the hottest expression in the
    // dedup path. The native merge-intersect expression stays inside
    // whole-stage codegen (the equivalent aggregate(map_keys(...)) HOF is
    // an interpreted per-pair lambda with per-element map probes).
    val inter = graft.functions.BitsetFunctions.bitsetIntersect(col("__ma"), col("__mb"))
    cand.join(ma, "a").join(mb, "b") // AQE broadcasts when the mask table is small
      .withColumn("__i", inter)
      .select(col("a"), col("b"), col("__i").as("n_inter"),
              col("__za").as("sz_a"), col("__zb").as("sz_b"))
  }

  /** Exact Jaccard for candidate pairs via [[bitsetPairStats]]'s popcounts. */
  def jaccardVerifyBitset(cand: DataFrame, tokenRows: DataFrame, idCol: String,
                          idBuckets: Int = 1 << 10,
                          materializeMasks: Boolean = false): DataFrame =
    bitsetPairStats(cand, tokenRows, idCol, idBuckets, materializeMasks)
      .select(col("a"), col("b"),
              (col("n_inter").cast("double") /
               (col("sz_a") + col("sz_b") - col("n_inter")).cast("double")).as("jaccard"))

  /** Exact Jaccard similarity for candidate pairs over distinct-element set
    * arrays. `docSets` is (idCol, set: array<string>) with distinct elements.
    *
    * Per-pair `array_intersect` beats the explode-then-shuffle join by orders
    * of magnitude when candidate counts are large (measured at sf0.1: the
    * exploded join moved ~170M intermediate rows; this moves one array lookup
    * per pair). Pairs sharing zero elements keep jaccard 0 (inner joins only
    * touch the id columns, so no pair is lost).
    */
  def jaccardVerify(cand: DataFrame, docSets: DataFrame, idCol: String): DataFrame =
    jaccardVerifyCross(cand, docSets, docSets, idCol)

  /** [[jaccardVerify]] with the pair's two sides read from two set frames:
    * `a` ids from `setsA`, `b` ids from `setsB` (the cross-candidate shape
    * of [[lshCrossCandidatePairs]]).
    */
  def jaccardVerifyCross(cand: DataFrame, setsA: DataFrame, setsB: DataFrame,
                         idCol: String): DataFrame = {
    val sa = setsA.select(col(idCol).as("a"), col("set").as("__sa"))
    val sb = setsB.select(col(idCol).as("b"), col("set").as("__sb"))
    val inter = size(array_intersect(col("__sa"), col("__sb"))).cast("double")
    val union = (size(col("__sa")) + size(col("__sb"))).cast("double") - inter
    cand.join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"), (inter / union).as("jaccard"))
  }

  /** Distinct-token set per document as a single array column. */
  def distinctTokenSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), array_distinct(TextAnalysis.tokens(col(textCol))).as("set"))

  /** Connected components over near-dup pairs: every node gets the minimum
    * node id of its component (`comp`), which is the canonical document to
    * KEEP — turning a pair list into an actual dedup decision.
    *
    * Star contraction with pointer-jumped maps: each round computes the
    * contraction map m(x) = min(x, min neighbour) — a forest of parent
    * pointers — then squares the MAP against itself (m := m∘m, a
    * node-count-sized self-join, never an edge pass) until stable, so every
    * node points at its forest root: a 200-hop chain collapses in one
    * round, not 200. Edges are then remapped through the compressed map and
    * self-loops dropped. The edge set shrinks geometrically — dense
    * near-dup clusters collapse immediately, and only the FIRST round
    * touches the full edge list (unlike label propagation, which pays a
    * full-edge join every round). The map is current-node-count-sized, so
    * the edge remap joins broadcast when it is small; per-round edge-sized
    * work is one groupBy and one distinct over the shrinking edge set. No
    * driver-side graph state; convergence = the contracted graph running
    * out of edges. Labels always map to the component minimum (the min
    * never maps away from itself).
    *
    * @param pairs (a, b) undirected near-dup edges
    * @param nodes single-column frame of all node ids (isolated nodes keep
    *              their own id as comp)
    */
  /** m(x) = min(x, min neighbour) over the current contracted graph — a
    * forest of parent pointers, compressed to its roots by the pointer
    * jumping in [[connectedComponents]].
    *
    * Hub skew (a pathological mega-component funnelling every member
    * through one reduce key) is bounded by construction: `min` is an
    * algebraic aggregate, so Spark plans it partial+final — each map task
    * combines its slice of the hub's rows to ONE row before the exchange,
    * which therefore carries at most one row per key per map partition
    * regardless of component size. That IS the salted two-phase min, with
    * the physical partition id as the salt; an explicit salt column would
    * add a second exchange on the node-sized frame every round without
    * improving the bound. ScaleOpsSpec pins both the partial_min-below-
    * Exchange plan shape and a generated mega-star completing flat.
    */
  private[graft] def neighbourMin(g: DataFrame): DataFrame =
    g.select(col("src").as("__n"), col("dst").as("__nb"))
      .unionByName(g.select(col("dst").as("__n"), col("src").as("__nb")))
      .groupBy(col("__n")).agg(min(col("__nb")).as("__mn"))
      .select(col("__n").as("__mid"), least(col("__n"), col("__mn")).as("__mv"))

  def connectedComponents(pairs: DataFrame, nodes: DataFrame, idCol: String,
                          maxIter: Int = 20): DataFrame = {
    // materialize the (expensive, LSH+jaccard-derived) pair list once, as
    // an UNDIRECTED edge list — symmetrizing it would double what every
    // checkpoint stores and every remap join carries; instead each round's
    // neighbour-min unions the two directed projections lazily (same
    // shuffle volume into the groupBy, half the materialized bytes).
    // Each blocking job below materializes a frame with its flagged-row
    // count observed on that same job: the loop's probes cost no
    // submission round-trip of their own
    def counted(df: DataFrame, flag: Column): (DataFrame, Long) = {
      val (ck, m) = Materialize.observed(df, count_if(flag).as("__n"))
      (ck, m("__n").asInstanceOf[Long])
    }
    val (g0, e0) = counted(
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .filter(col("src") =!= col("dst")), lit(true))
    var g = g0
    // Hybrid finish (r13, guide §2.6): the contracted edge set shrinks
    // geometrically, and once it fits one task's memory the remaining
    // distributed rounds are pure scheduling choreography — dozens of
    // 1-2-task blocking jobs over a graph that no longer needs a cluster
    // (Profile: 43 jobs for dedup_clusters at sf0.1, ~0.05 s apiece, all
    // floor). Below the cap the round loop hands the CURRENT contracted
    // graph to the single-task union-find and composes its map into the
    // lazy label chain — the same comp-minimum contract (ScaleOpsSpec pins
    // hybrid ≡ distributed on a chain; GraftProperties pins the union-find
    // against the reference). The cap bounds the task's memory (~48
    // bytes/endpoint); at corpus scale the first round(s) still run
    // distributed and only the shrunken tail goes local.
    // Default 2^23 edges: the one task's working set is bounded by the
    // DISTINCT ENDPOINTS (≤2 per edge, ~16 bytes/entry in the primitive
    // map → ≲270 MB worst case, typically far less — near-dup graphs are
    // dense, so endpoints ≪ edges), well inside any executor budget.
    // Production override: spark.graft.cc.localEdgeCap (0 disables the
    // local finish entirely).
    val localCap = pairs.sparkSession.conf
      .getOption("spark.graft.cc.localEdgeCap")
      .map(_.toLong).getOrElse(1L << 23)
    // labels stay a LAZY chain of left-outer joins against each round's
    // CHECKPOINTED min-map (r12 job diet): nothing ever re-executes — every
    // m_i below is materialized and the chain is at most maxIter joins deep
    // — and the per-round labels materialization (a full blocking
    // scheduler round-trip on a real cluster, formerly hidden behind a
    // concurrent Future) disappears; the chain runs once, inside the
    // consumer's action.
    var labels = nodes.select(col(idCol).as("id"), col(idCol).as("comp"))
    var i = 0
    var ne = e0
    var done = e0 == 0L
    while (!done && i < maxIter) {
      if (ne <= localCap) {
        // bounded remainder: one union-find task replaces every remaining
        // round; non-root contracted ids relabel through its map exactly
        // like a per-round relabel (roots coalesce to themselves). The
        // per-partition forest pre-pass pays off only when the funneled
        // edge set is big enough to dominate the extra stage — ne is the
        // MEASURED count riding the checkpoint jobs, so the gate
        // costs nothing (r13: mm_phash_clusters' ~25k-edge graph lost
        // 0.1-0.2 s to an always-on pre-pass; dedup_clusters' ~4M-edge
        // one gains ~1.8 s from it).
        val m = unionFindMap(g.select(col("src").as("a"), col("dst").as("b")),
          preContract = ne > (1L << 16))
        val prev = labels
        labels = prev
          .join(m, prev("comp") === m("__ufid"), "left_outer")
          .select(col("id"), coalesce(col("__ufroot"), col("comp")).as("comp"))
        done = true
      } else {
      // the neighbour-min map materializes EAGERLY before the pointer-jump
      // squarings: the squarings self-join it 4×, and self-join
      // deduplication re-aliases the copies' expression ids so exchange
      // reuse cannot collapse a lazy groupBy across them — a lazy m here
      // recomputed the edge-sized aggregation once per copy (r12: the same
      // reuse failure bitsetPairStats documents)
      var m = Materialize.frame(neighbourMin(g))
      // pointer jumping on the map alone: squaring halves the forest depth
      // per pass, each pass a self-join of the node-sized (never
      // edge-sized) frame; dense graphs stabilize after one pass
      def squared(mm: DataFrame): DataFrame =
        mm.alias("x")
          .join(mm.select(col("__mid").as("__jid"), col("__mv").as("__jv")).alias("y"),
                col("x.__mv") === col("y.__jid"), "left_outer")
          .select(col("x.__mid").as("__mid"),
                  coalesce(col("__jv"), col("x.__mv")).as("__mv"),
                  (coalesce(col("__jv"), col("x.__mv")) =!= col("x.__mv")).as("__chg"))
      var mStable = false
      var j = 0
      while (!mStable && j < 20) {
        // TWO squarings per blocking job: the first stays a lazy plan, the
        // second checkpoints WITH the change count riding its own
        // materialization (a stable map squares to itself, so probing only
        // the second pass is exact). Each iteration of this loop is now
        // exactly ONE blocking job jumping depth by 4x — round 5 paid two
        // (checkpoint, then a separate .head() probe)
        val (m2, nChanged) = counted(
          squared(squared(m).select("__mid", "__mv")), col("__chg"))
        mStable = nChanged == 0L
        m = m2.select("__mid", "__mv")
        j += 1
      }
      // relabel LAZILY against the checkpointed m (no job — see the labels
      // note above); the edge remap stays this round's one blocking job:
      // canonicalize (least, greatest) so the distinct() collapses both
      // orientations of a contracted edge, with the edge count riding the
      // checkpoint job itself
      val prevLabels = labels
      labels = prevLabels
        .join(m, prevLabels("comp") === m("__mid"), "left_outer")
        .select(col("id"), coalesce(col("__mv"), col("comp")).as("comp"))
      val (g2, nEdges) = counted(
        g.join(m.select(col("__mid").as("__sid"), col("__mv").as("__sv")),
               col("src") === col("__sid"))
          .join(m.select(col("__mid").as("__did"), col("__mv").as("__dv")),
                col("dst") === col("__did"))
          .select(least(col("__sv"), col("__dv")).as("src"),
                  greatest(col("__sv"), col("__dv")).as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct(), lit(true))
      g = g2
      ne = nEdges
      done = nEdges == 0L
      }
      i += 1
    }
    labels.select(col("id").as(idCol), col("comp"))
  }

  /** Connected components of a BOUNDED edge set by single-task union-find —
    * the merge-grain sibling of [[connectedComponents]] (r13, guide §2.6).
    *
    * The distributed star contraction pays ~2 blocking scheduler
    * round-trips per round plus the pointer-jump jobs — the right price
    * for a CORPUS-sized pair set, pure overhead for the batch-sized
    * contracted graph an incremental merge produces (measured: the CC
    * rounds were ~5 s of `dedup_clusters_incremental`'s 8.8 s at sf0.1,
    * nearly all job-submission floor). Here the edge set is funneled
    * through one exchange into ONE task and labeled in a single
    * union-find pass: union-by-min (attach the larger root under the
    * smaller) with full path compression, so each tree's root is provably
    * the component minimum and the output is independent of edge order —
    * the same comp-id contract as the distributed form
    * (GraftProperties pins equality against it on random graphs).
    *
    * CALLER CONTRACT: `pairs` must be bounded — batch-scale, never
    * corpus-scale (the whole frame is held in one task's memory, ~48
    * bytes/distinct endpoint in the hash map). Isolated nodes keep their
    * own id via the final left join, exactly as in the distributed form.
    */
  def boundedComponents(pairs: DataFrame, nodes: DataFrame,
                        idCol: String): DataFrame = {
    val lab = unionFindMap(pairs)
    nodes.join(lab, nodes(idCol) === col("__ufid"), "left")
      .select(col(idCol), coalesce(col("__ufroot"), col(idCol)).as("comp"))
  }

  /** The single-task union-find pass behind [[boundedComponents]] and the
    * hybrid finish of [[connectedComponents]]: `(a, b)` edges funneled
    * into one task, labeled by union-by-min + path compression. Emits
    * `(__ufid, __ufroot)` for NON-ROOT nodes only — a root is its own
    * component minimum, so callers coalesce missing ids to themselves.
    */
  /** Open-addressing long→long map (linear probing, power-of-two capacity,
    * 0.75 load factor): the boxed `java.util.HashMap[Long, Long]` costs
    * ~3 allocations + pointer chases per op, which at the millions of
    * edges the hybrid CC finish funnels through one task turns a
    * sub-second pass into seconds of GC churn. ~16 bytes/entry, zero
    * allocation per op.
    */
  private final class LongLongMap(initialCap: Int) {
    private var cap = Integer.highestOneBit(math.max(initialCap, 16) - 1) << 1
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0
    private def slot(k: Long): Int = {
      // Stafford mix constant spreads sequential ids across the table
      var h = java.lang.Long.hashCode(k * -7046029254386353131L) & mask
      while (used(h) && keys(h) != k) h = (h + 1) & mask
      h
    }
    def getOrDefault(k: Long, d: Long): Long = {
      val h = slot(k); if (used(h)) vals(h) else d
    }
    def put(k: Long, v: Long): Unit = {
      if ((n + 1) * 4 > cap * 3) grow()
      val h = slot(k)
      if (!used(h)) { used(h) = true; keys(h) = k; n += 1 }
      vals(h) = v
    }
    private def grow(): Unit = {
      val (ok, ov, ou, oc) = (keys, vals, used, cap)
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); vals = new Array[Long](cap)
      used = new Array[Boolean](cap); n = 0
      var i = 0
      while (i < oc) {
        if (ou(i)) { val h = slot(ok(i)); used(h) = true; keys(h) = ok(i); vals(h) = ov(i); n += 1 }
        i += 1
      }
    }
    def foreachEntry(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) { if (used(i)) f(keys(i), vals(i)); i += 1 }
    }
  }

  /** [[unionFindPass]] specialized to primitive longs over [[LongLongMap]]
    * — the hot path (doc/comp ids are longs everywhere except the
    * domain-graph queries).
    */
  private def unionFindPassLong(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new LongLongMap(1 << 16)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val nx = parent.getOrDefault(c, c); parent.put(c, r); c = nx
      }
      r
    }
    it.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = Vector.newBuilder[(Long, Long)]
    parent.foreachEntry((k, _) => out += ((k, find(k))))
    out.result().iterator
  }

  /** One union-find pass over an iterator of edges: union-by-min + path
    * compression under `ord`, emitting (id, root) for NON-ROOT ids only —
    * a root is its own component minimum.
    */
  private def unionFindPass[T](it: Iterator[(T, T)])(
      implicit ord: Ordering[T]): Iterator[(T, T)] = {
    val parent = new java.util.HashMap[T, T]()
    def find(x: T): T = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val nx = parent.get(c); parent.put(c, r); c = nx
      }
      r
    }
    it.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ord.lt(ra, rb)) parent.put(rb, ra)
      else if (ord.lt(rb, ra)) parent.put(ra, rb)
    }
    val out = Vector.newBuilder[(T, T)]
    parent.keySet().forEach(k => out += ((k, find(k))))
    out.result().iterator
  }

  /** UTF-8 byte ordering — Spark's binary string comparison (UTF8String
    * compares bytes unsigned), NOT Java's UTF-16 compareTo: the two
    * diverge on supplementary characters, and the comp-minimum contract
    * is stated in Spark's ordering.
    */
  private val utf8Ordering: Ordering[String] = (x: String, y: String) => {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    var r = 0
    while (r == 0 && i < n) { r = (a(i) & 0xff) - (b(i) & 0xff); i += 1 }
    if (r != 0) r else a.length - b.length
  }

  /** Two-level union-find: a FIRST pass per input partition contracts each
    * partition's edges to its spanning forest (the (id, local-root) rows a
    * union-find pass emits connect exactly the same components — guide
    * §2.3 "aggregate before you shuffle"), so the single-task finish
    * receives at most one row per distinct endpoint instead of the raw
    * edge multiset (r13: dedup_clusters funneled ~4M verified pairs into
    * one 1.15 s task; the map-side forests run 16-way parallel and cut
    * the one task's input to the endpoint count). Union-by-min + path
    * compression make the final (id → component-minimum) map independent
    * of edge order AND of the forest regrouping, so the output rows are
    * bit-identical to the one-pass form (GraftProperties pins it against
    * the reference union-find; a dedicated spec pins two-level ≡ direct).
    */
  private[graft] def unionFindMap(pairs: DataFrame,
                                  preContract: Boolean = true): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs.schema("a").dataType match {
      case org.apache.spark.sql.types.StringType =>
        val ds = pairs.select(col("a").cast("string"), col("b").cast("string"))
          .as[(String, String)]
        (if (preContract) ds.mapPartitions(it => unionFindPass(it)(utf8Ordering))
         else ds)
          .repartition(1)
          .mapPartitions(it => unionFindPass(it)(utf8Ordering))
          .toDF("__ufid", "__ufroot")
      case _ =>
        val ds = pairs.select(col("a").cast("long"), col("b").cast("long"))
          .as[(Long, Long)]
        (if (preContract) ds.mapPartitions(it => unionFindPassLong(it))
         else ds)
          .repartition(1)
          .mapPartitions(it => unionFindPassLong(it))
          .toDF("__ufid", "__ufroot")
    }
  }

  /** Token n-gram shingles (adjacent n tokens joined by one space), distinct.
    *
    * IMPORTANT: pass a *materialized column* (e.g. `.withColumn("toks", ...)`
    * first), not a raw `split(...)` expression — higher-order lambdas are
    * interpreted without common-subexpression elimination, so an inline
    * expression would be re-evaluated per element (measured ~60x slowdown).
    */
  def ngramShingles(toks: Column, n: Int): Column = {
    val grams = transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o + 1)): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array()))
  }

  /** Content-defined chunking (token-granularity FastCDC/rsync family):
    * cut a doc into variable-size chunks whose BOUNDARIES depend only on
    * local content — after token p whenever the 4-token window ending at p
    * hashes to 0 mod 8 (expected chunk length ≈ 8 tokens). The window
    * width and divisor are deliberately FIXED, not parameters: the DuckDB
    * oracles ([[graft.queries.DedupQueries]]'s `cdcChunksSql`), the
    * plain-Scala property reference (GraftProperties' `refCdcChunkMd5s`)
    * and CdcSpec all pin this exact (4, mod 8) rule, so a tunable knob
    * here would let a caller silently leave every cross-engine contract.
    * Because a boundary looks at w tokens and nothing else, an edit
    * anywhere in a doc reshapes only the chunks it touches: every chunk
    * lying fully inside an untouched region keeps its identity, which is
    * what makes chunk-hash dedup catch shared passages that fixed-size
    * chunking misses after a single leading insertion shifts every frame
    * (CdcSpec pins exactly that prepend-invariance).
    *
    * Output: one row per chunk — (id, chunk_idx, n_toks, chunk_md5).
    * Everything is per-row array algebra — a pure map stage with NO
    * shuffle and no explode of token rows, so at 100 TB this costs one
    * corpus scan; the duplicate census downstream is one groupBy on
    * chunk_md5.
    *
    * The window hash is a 31-weighted polynomial over PER-TOKEN portable
    * hashes (the md5-hex-prefix integer every other dedup op uses), and
    * the whole boundary-scan + chunk-build runs inside the native
    * [[graft.functions.CdcChunks]] expression — one imperative pass per
    * document that hashes every token exactly once. Its `aggregate`-fold
    * predecessor (already a rescue from a measured O(n²) HOF-inlining
    * form) still paid interpreted per-element lambda dispatch, benching
    * 6.3×/5.1× the single-thread comparator; the native form is the same
    * promotion [[graft.functions.WinnowSpans]] got for the same profile.
    * The SQL oracle replays the identical polynomial + cut-point rule
    * relationally, producing bit-equal chunks (CdcSpec and
    * GraftProperties' plain-Scala reference both regression-pin the
    * contract).
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol),
        posexplode(graft.functions.CdcFunctions.cdcChunks(col("toks")))
          .as(Seq("chunk_idx", "ch")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("ch").getField("n_toks").as("n_toks"),
        col("ch").getField("chunk_md5").as("chunk_md5"))
  }

  /** 60-bit SimHash over term frequencies. Bit b of md5(token)'s leading
    * 60 bits votes +tf / -tf; simhash bit b is 1 iff the vote sum is > 0.
    * 60 bits (15 hex chars) keeps everything in signed-long range in every
    * engine.
    *
    * The 60 per-bit vote sums are 60 aggregate COLUMNS over the token-freq
    * rows, not a 60× exploded row stream: no row inflation, one shuffle on
    * the doc id, and every vote benefits from map-side partial aggregation
    * — the plan shape that survives a 100 TB corpus (the explode form
    * shuffles 60× the token volume).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = TextAnalysis.tokenRows(df, idCol, textCol)
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val hashed = tf.withColumn("h",
      conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until 60).map { b =>
      sum(col("tf") * (expr(s"CAST(shiftright(h, $b) & 1 AS BIGINT)") * 2 - 1)).as(s"__s$b")
    }
    val packed = (0 until 60).map { b =>
      when(col(s"__s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    hashed.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /** SimHash near-dup pairs `(a, b, hamming)` at Hamming distance <=
    * `maxHamming`, blocked by pigeonhole banding: the 60-bit simhash splits
    * into 4 bands of 15 bits, and any pair within distance 3 must agree
    * EXACTLY on at least one band (3 bit flips touch at most 3 of the 4
    * bands) — so candidates come from the same band join the MinHash path
    * uses ([[firstBandJoin]]), never an all-pairs comparison. The ONE
    * near-dup-pair definition shared by the `dedup_simhash_pairs` query
    * and [[graft.pipeline.CorpusJob]]'s curation stage.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame =
    hammingPairs(simhash(df, idCol, textCol), idCol, "simhash",
      bits = 60, nBands = 4, maxHamming = maxHamming)

  /** Banded Hamming near-dup pairs `(a, b, hamming)` (a < b) over ANY
    * precomputed `bits`-bit hash column — the pigeonhole blocking
    * [[simhashPairs]] introduced, shared by every bit-fingerprint family
    * (simhash, multimodal aHash, ...): [[hammingLongBands]] self-joined
    * through [[hammingJoin]], never an all-pairs scan.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
                   bits: Int, nBands: Int, maxHamming: Int): DataFrame = {
    val long = hammingLongBands(hashes, idCol, hashCol, bits, nBands)
    hammingJoin(long, long, idCol, hashCol, bits, nBands, maxHamming, self = true)
  }

  /** [[hammingPairs]] across a PROBE frame and a STANDING frame with
    * disjoint id sets — the incremental-epoch form: probe × standing
    * replaces the self-join (the standing side is never self-paired — its
    * internal pairs were found in their own epochs). Output
    * `(a, b, hamming)` with a = probe id.
    */
  def hammingCrossPairs(probe: DataFrame, standing: DataFrame, idCol: String,
                        hashCol: String, bits: Int, nBands: Int,
                        maxHamming: Int): DataFrame =
    hammingCrossPairsLong(hammingLongBands(probe, idCol, hashCol, bits, nBands),
      hammingLongBands(standing, idCol, hashCol, bits, nBands),
      idCol, hashCol, bits, nBands, maxHamming)

  /** Ids of `train` docs whose token set near-duplicates ANY `eval` doc —
    * the fuzzy decontamination tier as a reusable operator (the
    * `dedup_decontam_fuzzy` query shape, factored for the curation
    * pipeline): MinHash band CROSS-candidates only (train × eval — never
    * train × train, the corpus is never self-paired here), then the exact
    * Jaccard verify at `minJaccard`. Returns a one-column frame (`idCol`)
    * of contaminated training ids.
    *
    * Contract: train and eval ids must be disjoint, and each id must name
    * one row per side. A candidate `(a, b)` is read as a = train id,
    * b = eval id; the verify joins a to the train sets and b to the eval
    * sets, so a shared id would pair a document with its own side.
    *
    * Scale shape: everything before the candidate join is map-only. Each
    * document carries its distinct token SET ([[distinctTokenSets]]), and
    * signature element i is the set's minimum `md5("<i>:" + token)`, the
    * same value [[minhashSignatures]] aggregates from exploded token rows,
    * with no (doc, token) row stream and no groupBy shuffle. The candidate
    * set is train × eval and eval is benchmark-sized, so the verify runs
    * one `array_intersect` per candidate on sets the pair already joined
    * to: nothing is built over the train vocabulary, unlike the bitset
    * verify ([[bitsetPairStats]]), whose dense token numbering pays for
    * itself only when candidates are corpus × corpus and the masks are
    * shared across queries.
    */
  def fuzzyContaminatedIds(train: DataFrame, eval: DataFrame, idCol: String,
                           textCol: String, k: Int = 16, r: Int = 4,
                           minJaccard: Double = 0.7): DataFrame = {
    val setsT = distinctTokenSets(train, idCol, textCol)
    val setsE = distinctTokenSets(eval, idCol, textCol)
    def bands(sets: DataFrame) =
      minhashBands(minhashSetSignatures(sets, idCol, k), idCol, k, r)
    val cand = lshCrossCandidatePairs(bands(setsT), bands(setsE), idCol, k / r)
    jaccardVerifyCross(cand, setsT, setsE, idCol)
      .filter(col("jaccard") >= minJaccard)
      .select(col("a").as(idCol)).distinct()
  }

  /** Long-form Hamming band rows `(id, hash, band_idx, band_val,
    * band_key)` — [[longBands]]'s analogue for the bit-fingerprint family:
    * [[explodeBands]] over the hash's `nBands` equal bit bands, with the
    * hash carried so [[hammingJoin]] recomputes every band from it (no
    * per-band columns on the stored table). This is the PERSISTABLE shape
    * of Hamming dedup state: a standing fingerprint table written via
    * [[Layout.writeBucketed]] on `band_key` feeds [[hammingCrossPairsLong]]
    * with NO exchange on the corpus side — the rolling-ingest contract for
    * media fingerprints, identical in structure to the MinHash band state
    * ([[graft.operators.DedupState]]).
    */
  def hammingLongBands(hashes: DataFrame, idCol: String, hashCol: String,
                       bits: Int, nBands: Int): DataFrame =
    explodeBands(hashes, Seq(idCol, hashCol),
      (0 until nBands).map(j => hashBand(col(hashCol), bits, nBands, j)))

  /** [[hammingCrossPairs]] over ALREADY-long band frames (the stored form
    * [[hammingLongBands]] produces) — the rolling-ingest entry point for
    * bit fingerprints: the standing side coming off a `band_key`-bucketed
    * table satisfies [[firstBandJoin]]'s clustering exactly and the (huge)
    * corpus state never shuffles; only the (small) incoming batch does.
    * Output `(a, b, hamming)` with a = probe id; id sets must be disjoint.
    */
  def hammingCrossPairsLong(longProbe: DataFrame, longStanding: DataFrame,
                            idCol: String, hashCol: String, bits: Int,
                            nBands: Int, maxHamming: Int): DataFrame =
    hammingJoin(longProbe, longStanding, idCol, hashCol, bits, nBands,
      maxHamming, self = false)

  /** Band j of a `bits`-bit hash split into `nBands` equal bands. */
  private def hashBand(h: Column, bits: Int, nBands: Int, j: Int): Column = {
    require(bits % nBands == 0, s"bits=$bits not divisible into $nBands bands")
    val bw = bits / nBands
    shiftrightunsigned(h, bw * j).bitwiseAND(lit((1L << bw) - 1))
  }

  /** [[firstBandJoin]] over two [[hammingLongBands]] frames, each side's
    * bands recomputed from its carried hash, then one codegen'd
    * `bit_count(xor)` per candidate keeps Hamming <= `maxHamming`. A pair
    * within Hamming nBands−1 agrees EXACTLY on some band (each flipped bit
    * touches one band), so the blocking loses no pair up to that bound.
    */
  private def hammingJoin(a: DataFrame, b: DataFrame, idCol: String,
                          hashCol: String, bits: Int, nBands: Int,
                          maxHamming: Int, self: Boolean): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= nBands - 1,
      s"$nBands-band pigeonhole is complete only for Hamming <= ${nBands - 1}, got $maxHamming")
    firstBandJoin(a, b, nBands,
        (p, j) => hashBand(col(p + hashCol), bits, nBands, j),
        if (self) Some(idCol) else None)
      .select(col(s"a_$idCol").as("a"), col(s"b_$idCol").as("b"),
              bit_count(col(s"a_$hashCol").bitwiseXOR(col(s"b_$hashCol"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
