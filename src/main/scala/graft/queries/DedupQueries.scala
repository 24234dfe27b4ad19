package graft.queries

import graft.Tables
import graft.operators.{Dedup, DedupState, Materialize, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication extension suite over `documents` / `embeddings`: exact
  * hash-dedup, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
  * near-dup — each with a DuckDB oracle built on the same md5-keyed hashing.
  */
object DedupQueries {

  private val K = 16 // minhash permutations
  private val R = 4  // rows per LSH band -> 4 bands

  /** Exact dedup counts: total vs distinct text vs distinct md5(text). */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("text")).as("n_unique_text"),
      countDistinct(md5(col("text"))).as("n_unique_md5"))

  /** Exact dedup keep-list: representative (min doc_id) per text hash. */
  def exactKeep(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("h")

  /** Bag-of-words exact dedup: docs whose token MULTISETS match — the
    * reordered-content duplicate class exact text-hash dedup misses (e.g.
    * shuffled list items, re-sorted concatenations) and near-dup pipelines
    * pay a full MinHash pass to approximate. The canonical key is the md5
    * of the doc's sorted token sequence (duplicates preserved, so it is
    * the multiset, not the set); one window over the key assigns each
    * group its min-doc_id canon — a single hash-partition pass, no join.
    * Per-row sort cost is bounded by doc length, the classic
    * sorted-neighborhood/token-sort signature from record-linkage.
    */
  def bow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("bow_md5")
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat_ws(" ", sort_array(TextAnalysis.tokens(col("text"))))).as("bow_md5"))
      .withColumn("canon_id", min("doc_id").over(w))
      .withColumn("n_docs", count(lit(1)).over(w))
      .select(col("doc_id"), col("bow_md5"), col("canon_id"), col("n_docs"),
              (col("doc_id") === col("canon_id")).as("keeper"))
      .orderBy("doc_id")
  }

  /** MinHash signatures folded to LSH band keys, one row per doc. */
  def minhashSigs(s: SparkSession, d: String): DataFrame = {
    val (_, bands) = tokensAndBands(s, d)
    bands.orderBy("doc_id")
  }

  /** MinHash/LSH near-dup pairs: band-collision candidates verified with
    * exact Jaccard >= 0.7 over distinct-token sets.
    */
  /** Unordered (a, b, jaccard) near-dup pairs — shared by the pair query
    * (which adds rounding + total order) and cluster formation (which
    * doesn't need either).
    *
    * The LSH + jaccard pipeline is the most expensive sub-plan in the suite,
    * so the verified frame is checkpointed once per (session, sf dir) and
    * reused by every consumer.
    */
  private val pairsMemo = Memo.entry[DataFrame]("minhashPairs")

  /** Fixture corpus/batch split: standing corpus = `doc_id < splitId`,
    * incoming batch = `doc_id >= splitId`, with splitId = n·4/5 in pure
    * integer arithmetic (doc_ids are 0..n−1). PROPORTIONAL, so the batch
    * stays 20% of the corpus at every sf — the earlier absolute threshold
    * (400) made the "batch" 92% of the corpus at sf0.1 and inverted the
    * incremental queries' cost profile into nonsense. At the 500-doc
    * correctness fixtures n·4/5 IS 400, so every oracle-checked output and
    * stored state table is unchanged where the driver hashes them. The
    * oracle restates the same integer expression as a scalar subquery
    * ([[splitSql]]); one tiny max() aggregate, cached per (session, dir).
    */
  private val splitMemo = Memo.entry[java.lang.Long]("splitId")

  private[graft] def splitId(s: SparkSession, d: String): Long =
    splitMemo(s, d) {
      val n = Tables.documents(s, d).agg(max(col("doc_id"))).head.getLong(0) + 1L
      n * 4L / 5L
    }

  /** [[splitId]] as a DuckDB scalar subquery — the identical integer
    * expression, so the two engines can never disagree on the boundary.
    */
  private[graft] val splitSql = "(SELECT (max(doc_id) + 1) * 4 // 5 FROM documents)"

  /** DuckDB CTE chain for [[Dedup.cdcChunks]] over documents matching
    * `pred`: emits `<alias>(doc_id, chunk)` via the identical 31-weighted
    * token-hash polynomial boundary rule and cut-point fold, so both CDC
    * oracles share one statement of the chunking semantics.
    */
  private def cdcChunksSql(pred: String, alias: String): String =
    s"""${alias}_t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents WHERE $pred),
       |${alias}_tt AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
       |         list_transform(toks,
       |           tk -> CAST('0x' || substring(md5(tk), 1, 8) AS BIGINT)) AS th
       |       FROM ${alias}_t WHERE len(toks) > 0),
       |${alias}_b AS (SELECT doc_id, toks, n,
       |        list_filter(range(4, n + 1),
       |          p -> (th[p] + th[p-1]*31 + th[p-2]*961 + th[p-3]*29791) % 8 = 0) AS bnds
       |      FROM ${alias}_tt),
       |${alias}_e AS (SELECT doc_id, toks,
       |        CASE WHEN len(bnds) > 0 AND bnds[-1] = n THEN bnds
       |             ELSE list_append(bnds, n) END AS ends
       |      FROM ${alias}_b),
       |$alias AS (SELECT doc_id,
       |        unnest(list_transform(range(1, len(ends) + 1),
       |          j -> array_to_string(toks[(CASE WHEN j = 1 THEN 0 ELSE ends[j-1] END) + 1 : ends[j]], ' '))) AS chunk
       |      FROM ${alias}_e)""".stripMargin

  /** Distinct-token rows + per-doc band table — the expensive upstream every
    * MinHash consumer shares (K md5 hashes per (doc, token)). Both frames
    * are checkpointed once per (session, sf dir): this is precisely the
    * "stored band table" a rolling 100 TB deployment keeps between ingests —
    * [[incremental]] then prices only the new-batch×corpus join, not a
    * signature rebuild.
    */
  private val bandsMemo = Memo.entry[(DataFrame, DataFrame)]("tokensAndBands")

  /** Tokenized corpus frame `(doc_id, lang, n_chars, toks)` — the upstream
    * every shingle/span-family consumer starts from. It is checkpointed
    * once per (session, sf dir) and shared across `dedup_spans`,
    * `dedup_spans_minimized`, `dedup_ngram_pairs`, `dedup_containment` and
    * `dedup_prefix_pairs` — the round-6 verdict measured those queries each
    * re-tokenizing the corpus from scratch as the dominant shared cost.
    * This is the same amortization a rolling 100 TB deployment gets from
    * its stored tokenized corpus.
    *
    * The toks array is materialized in its OWN select before any consumer
    * lambda reads it: an inline tokens(...) expression is re-evaluated per
    * array element inside interpreted HOFs (the documented ~60x pitfall;
    * measured 5.8s -> 0.6s on the containment query).
    */
  private val tokFrameMemo = Memo.entry[DataFrame]("tokFrame")

  private[graft] def tokFrame(s: SparkSession, d: String): DataFrame =
    // Materialize.shared: hash-distribute on doc_id across the core count
    // before checkpointing — a memo frame's partitioning is frozen, and
    // AQE's byte-based coalescing otherwise leaves this compute-dense
    // frame 1-2 partitions wide for every downstream consumer (r12)
    tokFrameMemo(s, d)(graft.operators.Materialize.shared(tokFrameBuild(s, d), col("doc_id")))

  /** [[tokFrame]]'s builder — exposed pre-checkpoint so PlanAuditSpec can
    * pin the scan shape (a checkpointed frame's plan starts at a Scan
    * ExistingRDD).
    */
  private[graft] def tokFrameBuild(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
              TextAnalysis.tokens(col("text")).as("toks"))

  /** 3-gram shingle frame `(doc_id, lang, n_chars, sh)` over [[tokFrame]] —
    * shared by the shingle-set consumers (n-gram Jaccard, containment,
    * prefix join, the corpus shingle masks, `cms_heavy_hitters`) and
    * checkpointed once per (session, sf dir) through
    * [[graft.operators.Materialize.frame]], so it honours the checkpoint
    * posture: re-running shingling per read was the measured bottleneck
    * (see [[prefixPairs]]'s checkpoint-the-array-frame note).
    */
  private val shingleFrameMemo = Memo.entry[DataFrame]("shingleFrame")

  private[graft] def shingleFrame(s: SparkSession, d: String): DataFrame =
    shingleFrameMemo(s, d)(
      graft.operators.Materialize.frame(shingleFrameBuild(s, d)))

  /** [[shingleFrame]]'s builder — exposed pre-checkpoint for PlanAuditSpec. */
  private[graft] def shingleFrameBuild(s: SparkSession, d: String): DataFrame =
    tokFrame(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
              Dedup.ngramShingles(col("toks"), 3).as("sh"))

  /** Corpus-wide 3-gram shingle MASK table `(doc_id, mm, sz)` — the
    * expensive verify-side half (dense vocab numbering + per-doc bitset
    * aggregation) that `dedup_ngram_pairs`, `dedup_containment` and
    * `dedup_prefix_pairs` each rebuilt per query: at sf0.1 the candidate
    * participants cover ~99.9% of the corpus (measured 4996/5000), so the
    * per-query participant prune saves nothing and the mask build IS the
    * query cost. It is built once per (session, sf dir) and probed per
    * candidate set; [[Dedup.tokenMasks]] documents why superset-built
    * masks return bit-identical stats (n_inter/sz are invariant under the
    * vocab renumbering).
    */
  private val shingleMaskMemo = Memo.entry[DataFrame]("corpusShingleMasks")

  private[queries] def corpusShingleMasks(s: SparkSession, d: String): DataFrame =
    shingleMaskMemo(s, d)(graft.operators.Materialize.shared(
      Dedup.tokenMasks(
        shingleFrame(s, d).select(col("doc_id"), explode(col("sh")).as("token")),
        "doc_id"), col("doc_id")))

  /** Candidate-pair stats over the corpus 3-gram shingles: a probe of the
    * shared corpus mask table (see [[corpusShingleMasks]]).
    */
  private def shingleStats(s: SparkSession, d: String, cand: DataFrame): DataFrame =
    Dedup.bitsetPairStatsFromMasks(cand, corpusShingleMasks(s, d), "doc_id")

  /** Corpus-wide WORD-token mask table `(doc_id, mm, sz)` — the
    * [[corpusShingleMasks]] pattern applied to the MinHash/word-token
    * verify family (r13, guide §2.4 "build the index once"): the dense
    * vocab numbering + per-doc bitset aggregation is built ONCE over the
    * full distinct-token relation ([[tokensAndBands]]'s
    * token rows — every doc, so every candidate participant of every
    * incremental/stored verify is covered) and PROBED per candidate set.
    * The per-rep rebuild it replaces was ~10 AQE-stage jobs inside every
    * incremental/stored verify (measured via Profile: the mask subtree was
    * most of dedup_incremental's 22 jobs/rep). [[Dedup.tokenMasks]]
    * documents why superset-built masks return bit-identical stats
    * (n_inter/sz_a/sz_b are invariant under the vocab renumbering).
    */
  private val wordMaskMemo = Memo.entry[DataFrame]("corpusWordMasks")

  private[queries] def corpusWordMasks(s: SparkSession, d: String): DataFrame =
    wordMaskMemo(s, d)(graft.operators.Materialize.shared(
      Dedup.tokenMasks(tokensAndBands(s, d)._1, "doc_id"), col("doc_id")))

  /** Exact Jaccard for word-token candidate pairs: a probe of the shared
    * corpus mask table — no per-query mask build (see [[corpusWordMasks]]).
    */
  private def wordJaccard(s: SparkSession, d: String, cand: DataFrame): DataFrame =
    Dedup.bitsetPairStatsFromMasks(cand, corpusWordMasks(s, d), "doc_id")
      .select(col("a"), col("b"),
        (col("n_inter").cast("double") /
         (col("sz_a") + col("sz_b") - col("n_inter")).cast("double")).as("jaccard"))

  private def tokensAndBands(s: SparkSession, d: String): (DataFrame, DataFrame) =
    bandsMemo(s, d) {
      val toks = graft.operators.Materialize.shared(
        Dedup.distinctTokenRows(Tables.documents(s, d), "doc_id", "text"), col("doc_id"))
      val bands = Dedup.minhashBands(Dedup.minhashSignatures(toks, "doc_id", K), "doc_id", K, R)
      (toks, graft.operators.Materialize.shared(bands, col("doc_id")))
    }

  /** Amortization observability: how often the verified-pair memo was hit
    * vs built this JVM. The bench embeds this in its artifact so a slow
    * `dedup_clusters` driver number is attributable — "22 s including pair
    * construction (miss)" and "22 s of pure clustering (hit)" demand
    * different fixes, and medians alone cannot tell them apart.
    */
  def pairsMemoStats: String =
    s"hit=${pairsMemo.hits},miss=${pairsMemo.misses}," +
      s"toks=${Memo.stats(tokFrameMemo)},sh=${Memo.stats(shingleFrameMemo)}," +
      s"mask=${Memo.stats(shingleMaskMemo)},wmask=${Memo.stats(wordMaskMemo)}," +
      s"iedges=${Memo.stats(verifiedDeltaMemo)},sim=${Memo.stats(simhashMemo)}," +
      s"cdc=${Memo.stats(cdcFrameMemo)},pfx=${Memo.stats(prefixIndexMemo)}"

  /** Full-corpus CDC chunk frame `(doc_id, chunk_idx, n_toks, chunk_md5)`
    * — the persisted chunk table a rolling deployment keeps (the
    * [[cdcIncremental]] docstring's "pays the build once per epoch").
    * Chunk boundaries are strictly per-document, so filtering this frame
    * by doc_id is bit-identical to chunking the filtered docs — which is
    * what lets the census and the incremental probe share one build.
    */
  private val cdcFrameMemo = Memo.entry[DataFrame]("cdcFrame")

  private def cdcFrame(s: SparkSession, d: String): DataFrame =
    cdcFrameMemo(s, d)(graft.operators.Materialize.shared(
      Dedup.cdcChunks(Tables.documents(s, d), "doc_id", "text"), col("doc_id")))

  private[queries] def minhashPairsRaw(s: SparkSession, d: String): DataFrame =
    pairsMemo(s, d) {
      val (toks, bands) = tokensAndBands(s, d)
      val cand = Dedup.lshCandidatePairs(bands, "doc_id", K / R)
      graft.operators.Materialize.shared(
        Dedup.jaccardVerifyBitset(cand, toks, "doc_id", materializeMasks = true)
          .filter(col("jaccard") >= 0.7),
        col("a"))
    }

  def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsRaw(s, d)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
              round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** MinHash Jaccard ESTIMATOR audit: for every verified near-dup pair,
    * the signature-collision estimate (fraction of the K minhash slots
    * that agree — the textbook unbiased estimator, variance j(1-j)/K)
    * next to the exact bitset Jaccard. This is the query that tunes K
    * before a 1000x corpus scale-up: if `jaccard_est` disperses too far
    * from `jaccard` at the 0.7 threshold, banding misses pairs and K must
    * rise (more signature work per doc) — measured here instead of
    * guessed. Signature recompute + two K-wide joins on the verified-pair
    * relation; nothing corpus-quadratic.
    */
  def minhashEst(s: SparkSession, d: String): DataFrame = {
    val (toks, _) = tokensAndBands(s, d)
    val sig = Dedup.minhashSignatures(toks, "doc_id", K)
    val sa = sig.toDF(("a" +: (0 until K).map(i => s"a_m$i")).toIndexedSeq: _*)
    val sb = sig.toDF(("b" +: (0 until K).map(i => s"b_m$i")).toIndexedSeq: _*)
    val agree = (0 until K)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    minhashPairsRaw(s, d).join(sa, "a").join(sb, "b")
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
              round(col("jaccard"), 4).as("jaccard"),
              round(agree.cast("double") / lit(K.toDouble), 4).as("jaccard_est"))
      .orderBy("doc_a", "doc_b")
  }

  /** Fuzzy TRAIN↔EVAL decontamination — the NEAR-duplicate complement of
    * the byte-identical `profile_contamination` audit and the exact
    * 8-gram Bloom blocklist (`bloom_decontam`): a training doc that is a
    * ≥0.7-Jaccard near-duplicate of an eval doc (shared eval convention
    * doc_id % 10 == 0) leaks the benchmark even when no byte or n-gram
    * matches exactly — the published contamination studies all flag at
    * this fuzzy tier, not just exact match. The pairs are the train×eval
    * subset of the SAME verified pair relation as the intra-corpus pair
    * census (the factored `verifiedPairsCtesWith` chain — one notion of
    * "near-duplicate"), so the query is a filter over standing state.
    */
  def decontamFuzzy(s: SparkSession, d: String): DataFrame = {
    // a pure FILTER on the standing verified-pair state (r13): the oracle
    // is verifiedPairsCtesWith restricted to train×eval, i.e. the
    // cross-split subset of the ONE near-duplicate relation
    // [[minhashPairsRaw]] memoizes — same band collision condition
    // (∃ shared band), same exact bitset verify, same ≥0.7 predicate
    val evB = col("b") % 10 === 0
    minhashPairsRaw(s, d)
      .filter((col("a") % 10 === 0) =!= evB)
      .select(when(evB, col("a")).otherwise(col("b")).as("train_doc"),
              when(evB, col("b")).otherwise(col("a")).as("eval_doc"),
              round(col("jaccard"), 4).as("jaccard"))
      .orderBy("train_doc", "eval_doc")
  }

  /** The full decontamination VERDICT — all three tiers of the ladder as
    * one declarative plan, per source: byte-identical text (md5 against
    * the eval hash set), whole-doc near-duplicate ([[decontamFuzzy]]'s
    * cross-split verified pairs, ≥0.7 Jaccard), and shared-8-gram leakage
    * (≥1 span window in common with any eval doc — the Bloom blocklist's
    * exact form). A training doc is CLEAN only if every tier clears it;
    * the report gives each tier's hit count and the surviving count — the
    * "what would the decontamination stage actually remove, and why"
    * audit an operator reads before enabling it. Scale shape: three
    * hash/band equi-joins (eval-sized or banded sides) feeding one
    * map-side-combined rollup; the fuzzy tier reuses the shared
    * verified pairs, the gram tier the shared span windows.
    */
  def decontamPurge(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("th"))
    val ev = docs.filter(col("doc_id") % 10 === 0).select("th").distinct()
      .withColumn("__e", lit(1))
    val fuzzy = decontamFuzzy(s, d).select(col("train_doc").as("doc_id"))
      .distinct().withColumn("__f", lit(1))
    val spans = spanWindows(s, d).select(col("doc_id"), col("span_md5")).distinct()
    val evg = spans.filter(col("doc_id") % 10 === 0).select("span_md5").distinct()
    val gramIds = spans.filter(col("doc_id") % 10 =!= 0)
      .join(evg, Seq("span_md5"), "left_semi")
      .select("doc_id").distinct().withColumn("__g", lit(1))
    docs.filter(col("doc_id") % 10 =!= 0)
      .join(ev, Seq("th"), "left")
      .join(fuzzy, Seq("doc_id"), "left")
      .join(gramIds, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"),
           sum(when(col("__e").isNotNull, 1L).otherwise(0L)).as("n_exact"),
           sum(when(col("__f").isNotNull, 1L).otherwise(0L)).as("n_fuzzy"),
           sum(when(col("__g").isNotNull, 1L).otherwise(0L)).as("n_gram"),
           sum(when(col("__e").isNull && col("__f").isNull && col("__g").isNull,
             1L).otherwise(0L)).as("n_clean"))
      .orderBy("source")
  }

  /** Dedup cluster formation: connected components over the MinHash
    * near-dup pairs; `comp` is the canonical (minimum) doc id of each
    * cluster, `keeper` marks the document a pipeline would retain.
    */
  def clusters(s: SparkSession, d: String): DataFrame = {
    val edges = minhashPairsRaw(s, d).select("a", "b")
    val nodes = Tables.documents(s, d).select("doc_id")
    Dedup.connectedComponents(edges, nodes, "doc_id")
      .withColumn("keeper", col("doc_id") === col("comp"))
      .orderBy("doc_id")
  }

  /** The 60-bit fingerprint frame both simhash queries read — one row per
    * doc, so the checkpoint is corpus-CARDINALITY (8 bytes of hash per
    * doc): the stored fingerprint table a rolling deployment keeps next to
    * its band table, built once per (session, sf dir) and probed per query.
    */
  private val simhashMemo = Memo.entry[DataFrame]("simhashFrame")

  private def simhashFrame(s: SparkSession, d: String): DataFrame =
    simhashMemo(s, d)(graft.operators.Materialize.shared(simhashBuild(s, d), col("doc_id")))

  /** [[simhashFrame]]'s builder — exposed pre-checkpoint for PlanAuditSpec. */
  private[graft] def simhashBuild(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(Tables.documents(s, d), "doc_id", "text")

  /** 60-bit SimHash per document. */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashFrame(s, d)
      .orderBy("doc_id")

  /** SimHash near-dup pairs at Hamming distance <= 3 — see
    * [[Dedup.simhashPairs]] for the pigeonhole-banding blocking. The
    * sibling to jaccard-verified MinHash: one 64-bit fingerprint per doc
    * instead of a K-hash signature, the cheapest near-dup pass a 100 TB
    * pipeline runs first.
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.hammingPairs(simhashFrame(s, d), "doc_id", "simhash",
        bits = 60, nBands = 4, maxHamming = 3)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")

  /** Token-3-gram Jaccard near-dup pairs, blocked by (lang, n_chars±5).
    * The Spark plan uses banded buckets (floor(n_chars/10), probe ±1 band)
    * so the range predicate becomes an equi-join — the scalable form of a
    * band range-join; the oracle states the same pairs with a plain
    * abs() predicate.
    *
    * The shingle frame is the shared checkpointed [[shingleFrame]]: both
    * join sides read it without re-running tokenize+shingle. Verification
    * probes the shared corpus shingle masks with the bitmask-popcount
    * jaccard from the MinHash path (codegen'd merge-intersect) instead of
    * per-pair string-array intersection — measured 2.3x faster at sf0.1,
    * identical pairs.
    */
  def ngramPairs(s: SparkSession, d: String): DataFrame = {
    val base = shingleFrame(s, d)
    val withB = base.withColumn("bucket", floor(col("n_chars") / lit(10)))
    val probe = withB.withColumn("jb",
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)))
    val cand = probe.alias("x").join(withB.alias("y"),
        col("x.lang") === col("y.lang") && col("x.jb") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id") &&
        abs(col("x.n_chars") - col("y.n_chars")) <= 5)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    shingleStats(s, d, cand)
      .select(col("a"), col("b"),
        (col("n_inter").cast("double") /
         (col("sz_a") + col("sz_b") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") > 0) // oracle parity: zero-overlap pairs drop (inner join there)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
              round(col("jaccard"), 4).as("jaccard"))
      .orderBy(desc("jaccard"), asc("doc_a"), asc("doc_b"))
      .limit(20)
  }

  /** Train/eval contamination detection by shingle CONTAINMENT: for each
    * "eval" document (doc_id % 10 = 0), find "train" documents containing
    * >= 50% of the eval doc's 3-gram shingles — |eval ∩ train| / |eval|.
    * Containment, not jaccard: a short eval doc buried inside a long train
    * doc has low jaccard but high containment, which is exactly the
    * benchmark-leakage signal a training pipeline must catch.
    *
    * Blocking is a RARE-shingle inverted index (document frequency <= 5):
    * a contaminated pair shares many shingles, so it shares a rare one with
    * near-certainty, while the rare-df cap bounds the index fan-out — each
    * posting list joins at most df eval-side rows. Verification probes the
    * shared corpus shingle masks ([[corpusShingleMasks]]) with the bitset
    * popcount machinery; each mask holds a doc's full shingle set, so the
    * containment denominators are exact.
    */
  def containment(s: SparkSession, d: String): DataFrame = {
    // toks materialize BEFORE the shingle lambda inside shingleFrame (the
    // documented ~60x HOF pitfall; measured 5.8s -> 0.6s here)
    val base = shingleFrame(s, d).select(col("doc_id"), col("sh"))
    val shr = base.select(col("doc_id"), explode(col("sh")).as("token"))
    val rare = shr.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 5).select("token")
    val evalShr = shr.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("a"), col("token"))
    val trainShr = shr.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("b"), col("token"))
    val cand = evalShr.join(rare, "token").join(trainShr, "token")
      .select("a", "b").distinct()
    shingleStats(s, d, cand)
      .filter(col("sz_a") > 0)
      // filter on the UNROUNDED ratio (the oracle's WHERE does too — a
      // boundary value that rounds up to 0.5 must not diverge), round only
      // for output
      .withColumn("__c", col("n_inter").cast("double") / col("sz_a").cast("double"))
      .filter(col("__c") >= 0.5)
      .select(col("a").as("eval_id"), col("b").as("train_id"),
              round(col("__c"), 4).as("containment"))
      .orderBy("eval_id", "train_id")
  }

  /** Prefix-filtered set-similarity self-join (the PPJoin family): all doc
    * pairs with exact 3-gram-shingle Jaccard >= 0.6, found WITHOUT
    * probabilistic blocking. Order each doc's distinct shingles by global
    * rarity (document frequency asc, shingle asc — a total order both
    * engines share), keep only the PREFIX of p = n − ceil(0.6·n) + 1
    * rarest shingles, and join docs on prefix shingles: two sets with
    * Jaccard ≥ t provably share a prefix element under any common total
    * order, so the filter is LOSSLESS — unlike MinHash banding there is no
    * recall parameter to tune. A pre-verify length filter
    * (10·min(n_a,n_b) ≥ 6·max) prunes pairs that cannot reach t.
    * All threshold arithmetic is exact integers — ceil(0.6n) as
    * (6n+9) div 10, the verify cut as 10·|∩| ≥ 6·|∪| — so no float
    * boundary can diverge between engines. Verification probes the shared
    * corpus shingle masks with the bitset popcount.
    *
    * On top of the per-side prefix cut sits PPJoin's POSITIONAL filter
    * (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW 2008): Jaccard ≥ t forces overlap ≥ α(x,y) =
    * ceil(t/(1+t)·(n_x+n_y)) — a PER-PAIR bound strictly above the
    * per-side worst case ceil(t·n) — and if the pair qualifies, its
    * EARLIEST shared shingle (positions rn_x, rn_y in the rarity order)
    * must leave room for that overlap in both suffixes:
    * 1 + min(n_x−rn_x, n_y−rn_y) ≥ α. The join keeps a (token, pair) row
    * only when that bound holds, so equal-size pairs are admitted on a
    * prefix of n−ceil(0.75n)+1 instead of n−ceil(0.6n)+1 — lossless
    * (the earliest shared token of any qualifying pair satisfies it by
    * the suffix-count argument) and cheaper: measured 204k → 73k raw
    * candidates (193k → 69k distinct pairs) at sf0.1, which shrinks the
    * verify stage's candidate set in the same ratio. α stays
    * integer-exact: ceil(3(n_x+n_y)/8) = (3(n_x+n_y)+7) div 8 for t = 0.6.
    *
    * SHINGLES, not unigram tokens, and deliberately so: prefix filtering
    * lives or dies on the element-frequency distribution. This corpus's
    * unigram vocabulary is tiny ('the' sits in 77% of docs), so unigram
    * prefixes still carry frequent tokens and the candidate join
    * degenerates — measured 78M raw candidates at sf0.1 vs 204k with
    * shingles, whose combinatorial vocabulary makes rarity ordering
    * actually rare. Same reason the MinHash family shingles first.
    *
    * Scale: df is one groupBy; per-doc ranking windows partition on
    * doc_id; the candidate join fans out by prefix posting-list length,
    * which rarity-ordering minimizes (frequent-element lists never enter
    * the index). The oracle replays the identical lossless prefix logic in
    * SQL, then both engines agree on the exact-threshold output regardless
    * of candidate-set details.
    */
  /** The PPJoin prefix index `(doc_id, token, n, rn)` — each doc's
    * n − ⌈0.6n⌉ + 1 globally-rarest shingles with their rarity rank and
    * the doc's distinct-shingle count. Built ONCE per (session, dir) (the
    * candidate self-join reads it as both sides, and self-join expr-id
    * re-aliasing defeats exchange reuse — the same failure
    * [[Dedup.bitsetPairStats]] documents, so an un-checkpointed index
    * paid the df-join + ranking window TWICE); hash-distributed on the
    * join probe key `token` — the prefix index is exactly the structure a
    * PPJoin deployment persists next to its stored band tables. `n` rides
    * the array length (`size(set)`): the shingle array is
    * `array_distinct`'d at build, so the former per-doc
    * `count() OVER (doc_id)` window was recomputing a value the array
    * already carries.
    */
  private val prefixIndexMemo = Memo.entry[DataFrame]("prefixIndex")

  private def prefixIndex(s: SparkSession, d: String): DataFrame =
    prefixIndexMemo(s, d) {
      import org.apache.spark.sql.expressions.Window
      // explode off the checkpointed ARRAY frame: measured FASTER (4.7s vs
      // 5.7s at sf0.1) than checkpointing the exploded long form — the
      // explode is codegen'd and cheap, while the long form's checkpoint
      // stores one string shingle per row
      val sets = shingleFrame(s, d)
        .select(col("doc_id"), size(col("sh")).cast("long").as("n"),
                explode(col("sh")).as("token"))
      val dfreq = sets.groupBy("token").agg(count(lit(1)).as("df"))
      graft.operators.Materialize.shared(
        sets.join(dfreq, "token")
          .withColumn("rn", row_number()
            .over(Window.partitionBy("doc_id").orderBy("df", "token"))
            .cast("long"))
          .filter(col("rn") <= col("n") - floor((col("n") * 6 + 9) / 10) + 1)
          .select(col("doc_id"), col("token"), col("n"), col("rn")),
        col("token"))
    }

  def prefixPairs(s: SparkSession, d: String): DataFrame = {
    val pref = prefixIndex(s, d)
    val alpha = floor(((col("x.n") + col("y.n")) * 3 + 7) / 8)
    val cand = pref.alias("x").join(pref.alias("y"),
        col("x.token") === col("y.token") &&
        col("x.doc_id") < col("y.doc_id") &&
        col("x.n") * 10 >= col("y.n") * 6 &&
        col("y.n") * 10 >= col("x.n") * 6 &&
        lit(1) + least(col("x.n") - col("x.rn"), col("y.n") - col("y.rn")) >= alpha)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    shingleStats(s, d, cand)
      .withColumn("u", col("sz_a") + col("sz_b") - col("n_inter"))
      .filter(col("n_inter") * 10 >= col("u") * 6)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("n_inter").cast("long").as("n_inter"),
        col("u").cast("long").as("n_union"),
        round(col("n_inter").cast("double") / col("u").cast("double"), 4)
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Content-defined-chunking duplicate census — CHUNK-granularity dedup
    * next to the doc-level (exact/MinHash), span-level (winnowing) and
    * containment forms: [[Dedup.cdcChunks]] cuts every doc where a 4-token
    * rolling window hashes ≡ 0 mod 8 (expected ≈8-token chunks), and the
    * census reports every chunk hash carried by ≥ 2 distinct docs. The
    * boundaries are content-local, so a shared passage chunks identically
    * in every doc that embeds it no matter what surrounds it — the
    * storage-dedup (rsync/FastCDC) trick applied to training text, and the
    * piece a fixed-frame chunker loses the moment one leading insertion
    * shifts every frame (CdcSpec pins the prepend-invariance).
    *
    * Scale: chunking is per-row array algebra — a shuffle-free map over
    * the corpus scan; the census is ONE groupBy on chunk_md5. No pair
    * join exists at any stage, so the op is linear in corpus size.
    */
  def cdcDup(s: SparkSession, d: String): DataFrame =
    cdcFrame(s, d)
      .groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occ"),
           min("doc_id").as("first_doc"),
           max(col("n_toks")).as("n_toks"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk_md5")

  /** Chunk-level ingest decontamination — the incremental member of the
    * CDC family, mirroring [[incremental]]/[[spansIncremental]]: the
    * INCOMING batch (doc_id >= [[splitId]]) is chunked and its chunk
    * hashes probed against the STANDING corpus's distinct chunk-hash set
    * (doc_id < split; a real deployment persists it bucketed on chunk_md5
    * like [[DedupState]] and pays the build once per epoch). Output: one
    * row per new doc that carries ≥ 1 corpus passage — total chunks,
    * corpus-hit chunks, containment fraction — the passage-level "have we
    * already trained on this?" signal, robust to the surrounding edits
    * that break document-hash dedup because CDC boundaries are
    * content-local.
    *
    * Scale: both sides are shuffle-free chunk maps; the probe is a
    * semi-join on chunk_md5 (batch-sized left, corpus set right); no pair
    * join exists. The batch chunk frame feeds two consumers (totals +
    * probe), so it is checkpointed rather than re-chunked.
    */
  def cdcIncremental(s: SparkSession, d: String): DataFrame = {
    val sp = splitId(s, d)
    val corpus = cdcFrame(s, d).filter(col("doc_id") < sp)
      .select("chunk_md5").distinct()
    val batch = cdcFrame(s, d).filter(col("doc_id") >= sp)
      .transform(Materialize.frame)
    val tot = batch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val hits = batch.join(corpus, Seq("chunk_md5"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_corpus_chunks"))
    tot.join(hits, "doc_id")
      .select(col("doc_id").as("new_id"), col("n_chunks"), col("n_corpus_chunks"),
        round(col("n_corpus_chunks").cast("double") / col("n_chunks").cast("double"), 4)
          .as("containment"))
      .orderBy("new_id")
  }

  /** Incremental near-dup: match an INCOMING batch (doc_id >= [[splitId]]) against
    * the STANDING corpus (doc_id < [[splitId]]) without re-pairing the corpus with
    * itself — the operation a rolling 100 TB ingest actually runs: the
    * corpus side is the shared band table ([[tokensAndBands]]); only
    * new×corpus band collisions are candidates, new×new and corpus×corpus
    * pairs never form. Verification probes the shared corpus word masks.
    */
  def incremental(s: SparkSession, d: String): DataFrame = {
    val (_, bands) = tokensAndBands(s, d)
    val cand = Dedup.lshCrossCandidatePairs(
      bands.filter(col("doc_id") >= splitId(s, d)), bands.filter(col("doc_id") < splitId(s, d)),
      "doc_id", K / R)
    wordJaccard(s, d, cand)
      .filter(col("jaccard") >= 0.7)
      .select(col("a").as("new_id"), col("b").as("corpus_id"),
              round(col("jaccard"), 4).as("jaccard"))
      .orderBy("new_id", "corpus_id")
  }

  /** [[incremental]] against PERSISTED corpus state — the honest form of
    * the rolling-ingest query: the standing corpus's band table and token
    * rows are bucketed catalog tables ([[DedupState]]), written once per
    * (session, corpus) and then only READ. The band probe join clusters on
    * the fused `band_key`; the stored table is bucketed on exactly that
    * key, so the corpus side joins with NO exchange
    * (PlanAuditSpec pins it) — at 100 TB the whole per-batch cost is the
    * batch's own signatures plus a co-located probe, never a corpus
    * recompute. Output is row-identical to [[incremental]] (same oracle).
    */
  def incrementalStored(s: SparkSession, d: String): DataFrame = {
    val st = corpusState(s, d)
    // candidates feed ONE consumer (the mask-table probe), so the frame
    // stays lazy — no per-query checkpoint
    wordJaccard(s, d, storedCandidateJoin(s, d, st))
      .filter(col("jaccard") >= 0.7)
      .select(col("a").as("new_id"), col("b").as("corpus_id"),
              round(col("jaccard"), 4).as("jaccard"))
      .orderBy("new_id", "corpus_id")
  }

  /** Ensure the fixture corpus's (doc_id < [[splitId]]) state tables exist — built
    * once per (session, dir), then reused by every rep/consumer.
    */
  private val corpusStateMemo = Memo.entry[DedupState.Names]("corpusState")

  private[graft] def corpusState(s: SparkSession, d: String): DedupState.Names =
    corpusStateMemo(s, d) {
      val n = DedupState.names("graft_corpus", d)
      // bands/toks, the standing component assignments ([[clustersIncremental]]
      // contracts corpus endpoints through them so a batch merge never
      // touches the corpus row set), and the winnowed span fingerprints
      // ([[spansIncremental]] probes them instead of re-winnowing)
      buildFullState(s,
        Tables.documents(s, d).filter(col("doc_id") < splitId(s, d)), n)
      n
    }

  /** Bench-only warmup: materialize the one-time persisted state tables
    * and the sanctioned cross-query memos BEFORE any query is timed, so
    * the stored/incremental medians measure the per-batch probe/merge —
    * the number the rolling-ingest contract actually makes a claim about —
    * and not the corpus state writes that a real deployment pays once per
    * ingest epoch, not once per query. Verify never calls this: each piece
    * of state is built by the first query that needs it.
    */
  private[graft] def warmupStoredState(s: SparkSession, d: String): Unit = {
    corpusState(s, d)
    fullCorpusState(s, d)
    GraphQueries.edgeState(s, d)
    MultimodalQueries.mmState(s, d)
    graft.queries.TextQueries.bm25State(s, d)
    tokensAndBands(s, d)
    batchToksAndBands(s, d)
    minhashPairsRaw(s, d).count()
    storedVerifiedEdges(s, d).count()
  }

  /** Incremental cluster maintenance — the third leg of the rolling-corpus
    * contract next to [[incrementalStored]] (pair detection) and
    * [[clustersStored]] (periodic full re-cluster): merge ONE incoming
    * batch into the standing component structure using only
    * batch-self pairs, batch×corpus probe pairs, and the persisted
    * `(doc_id, comp)` assignments. Corpus endpoints are CONTRACTED through
    * their stored comp id (sound because corpus-internal connectivity is
    * exactly what the stored assignments encode — adding nodes/edges never
    * splits an existing component), so the merge's CC runs on a graph of
    * comp-ids + batch-ids: at 100 TB that is batch-sized, not
    * corpus-sized, and component ids stay the min member doc_id because a
    * corpus comp id IS its min member and every batch id is newer. Output
    * is row-identical to [[clusters]] — same oracle — which is the
    * correctness proof that contraction loses nothing.
    */
  def clustersIncremental(s: SparkSession, d: String): DataFrame = {
    val st = corpusState(s, d)
    val edges = incrementalVerifiedEdges(s, d, st)
    val cmap = DedupState.comps(s, st)
      .select(col("doc_id").as("cdoc"), col("comp").as("cid"))
    val contracted = edges
      .join(cmap.withColumnRenamed("cdoc", "a").withColumnRenamed("cid", "ca"),
            Seq("a"), "left")
      .join(cmap.withColumnRenamed("cdoc", "b").withColumnRenamed("cid", "cb"),
            Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"),
              coalesce(col("cb"), col("b")).as("b"))
    val batchIds = Tables.documents(s, d).filter(col("doc_id") >= splitId(s, d)).select("doc_id")
    val verts = cmap.select(col("cid").as("doc_id")).distinct().unionByName(batchIds)
    // the contracted graph is BATCH-sized by construction (comp-ids +
    // batch ids — the whole point of the contraction), so the merge CC is
    // a single-task union-find instead of the distributed star contraction:
    // no per-round blocking jobs on the merge critical path (r13; the CC
    // rounds were ~5 s of this query's 8.8 s at sf0.1, nearly all
    // job-submission floor). Same comp-id contract, same oracle.
    val cc = Dedup.boundedComponents(contracted, verts, "doc_id")
      .select(col("doc_id").as("vert"), col("comp").as("root"))
    val corpusOut = cmap.join(cc, col("cid") === col("vert"))
      .select(col("cdoc").as("doc_id"), col("root").as("comp"))
    val batchOut = batchIds.join(cc, col("doc_id") === col("vert"))
      .select(col("doc_id"), col("root").as("comp"))
    corpusOut.unionByName(batchOut)
      .withColumn("keeper", col("doc_id") === col("comp"))
      .orderBy("doc_id")
  }

  /** Full-corpus state tables (every doc) — the persisted form a periodic
    * re-clustering job reads; distinct from [[corpusState]], whose fixture
    * corpus is the doc_id < [[splitId]] standing half.
    */
  private val fullStateMemo = Memo.entry[DedupState.Names]("fullCorpusState")

  private[graft] def fullCorpusState(s: SparkSession, d: String): DedupState.Names =
    fullStateMemo(s, d) {
      val n = DedupState.names("graft_all", d)
      DedupState.write(Tables.documents(s, d), "doc_id", "text", K, R, n, buckets = 16)
      n
    }

  /** [[clusters]] from PERSISTED state — the periodic full re-clustering a
    * rolling corpus runs (incremental probes catch new×corpus duplicates
    * as they arrive; re-clustering repairs the global component structure,
    * e.g. when a new doc bridges two standing clusters). The stored long
    * band table self-joins on its own bucket key, so candidate formation
    * reads pre-bucketed state with NO exchange on either side
    * (PlanAuditSpec pins it); the verify probes the shared corpus word
    * masks. Output is row-identical to [[clusters]] (same oracle).
    */
  def clustersStored(s: SparkSession, d: String): DataFrame = {
    val edges = storedVerifiedEdges(s, d)
    Dedup.connectedComponents(edges, Tables.documents(s, d).select("doc_id"), "doc_id")
      .withColumn("keeper", col("doc_id") === col("comp"))
      .orderBy("doc_id")
  }

  /** The verified near-dup edge set read off the persisted full-corpus
    * state, checkpointed once per (session, sf dir) — the same sanctioned
    * amortization [[minhashPairsRaw]] gives [[clusters]], so the two
    * cluster queries run their own distinct work (CC over shared pairs
    * vs CC over stored-state pairs) instead of re-verifying per query.
    * The verify probes the memoized corpus mask table instead of building
    * one inside this edge derivation (r13).
    */
  private val storedEdgesMemo = Memo.entry[DataFrame]("storedVerifiedEdges")

  private def storedVerifiedEdges(s: SparkSession, d: String): DataFrame =
    storedEdgesMemo(s, d)(graft.operators.Materialize.shared(
      stateVerifiedEdges(s, fullCorpusState(s, d),
        sharedMasks = Some(corpusWordMasks(s, d))), col("a")))

  /** Verified near-dup edges read entirely off a persisted state `n` —
    * shared by [[storedVerifiedEdges]], [[buildFullState]] and the
    * merge-equivalence spec. `sharedMasks` supplies a prebuilt superset
    * mask table covering every doc in the state — the probe is then the
    * whole verify and the candidate frame has one consumer, so nothing is
    * checkpointed per call. Without it the masks are built from the
    * state's own token table, so the edges depend on nothing but `n`.
    */
  private[graft] def stateVerifiedEdges(s: SparkSession, n: DedupState.Names,
      sharedMasks: Option[DataFrame] = None): DataFrame = sharedMasks match {
    case Some(m) =>
      Dedup.bitsetPairStatsFromMasks(
          Dedup.lshSelfCandidatePairsLong(DedupState.bands(s, n), "doc_id", K / R),
          m, "doc_id")
        .select(col("a"), col("b"),
          (col("n_inter").cast("double") /
           (col("sz_a") + col("sz_b") - col("n_inter")).cast("double")).as("jaccard"))
        .filter(col("jaccard") >= 0.7).select("a", "b")
    case None =>
      // candidate pairs feed both the participant set and the verify join;
      // candidate-sized, so checkpoint rather than re-probe the state —
      // hash-spread on `a` for the verify probe's parallelism (r12)
      val cand = graft.operators.Materialize.shared(Dedup.lshSelfCandidatePairsLong(
        DedupState.bands(s, n), "doc_id", K / R), col("a"))
      val parts = cand.select(col("a").as("doc_id"))
        .union(cand.select(col("b").as("doc_id"))).distinct()
      val toks = DedupState.toks(s, n).join(parts, Seq("doc_id"), "left_semi")
      Dedup.jaccardVerifyBitset(cand, toks, "doc_id", materializeMasks = true)
        .filter(col("jaccard") >= 0.7).select("a", "b")
  }

  /** Build the complete 4-table state (bands/toks/comps/spans) for
    * `corpus` under names `n` — the from-scratch transition whose
    * incremental equivalent is [[mergeEpoch]] (DedupStateMergeSpec pins
    * merge ≡ rebuild row-for-row on all four tables).
    */
  private[graft] def buildFullState(s: SparkSession, corpus: DataFrame,
                                    n: DedupState.Names, buckets: Int = 16): Unit = {
    DedupState.write(corpus, "doc_id", "text", K, R, n, buckets)
    val comps = Dedup.connectedComponents(
      stateVerifiedEdges(s, n), corpus.select("doc_id"), "doc_id")
    DedupState.writeComps(comps, "doc_id", n, buckets)
    DedupState.writeSpans(winnowSelect(corpus, SpanW, WinnowW), n, buckets)
  }

  /** Epoch-advance orchestration over [[DedupState.merge]]: derive the
    * batch-side frames (distinct token rows, long-form bands, winnowed
    * spans) and the VERIFIED near-dup edges of `batch` against
    * batch∪standing-corpus, then advance the state `n` in place. The
    * probe reads pre-bucketed standing tables (the same exchange-free
    * shape the incremental queries pin); all batch work is batch-sized.
    * Batch ids must be disjoint from — and by the ingest contract greater
    * than — every id already in the state.
    */
  private[graft] def mergeEpoch(s: SparkSession, batch: DataFrame,
                                n: DedupState.Names, buckets: Int = 16): Unit = {
    val toks = graft.operators.Materialize.shared(
      Dedup.distinctTokenRows(batch, "doc_id", "text"), col("doc_id"))
    val longB = graft.operators.Materialize.shared(Dedup.longBands(
      Dedup.minhashBands(Dedup.minhashSignatures(toks, "doc_id", K), "doc_id", K, R),
      "doc_id", K / R), col("doc_id"))
    val candNN = Dedup.lshSelfCandidatePairsLong(longB, "doc_id", K / R)
    val candNC = Dedup.lshCrossCandidatePairsLong(
      longB, DedupState.bands(s, n), "doc_id", K / R)
    // NN (both ids in batch) and NC (exactly one corpus side) are disjoint
    val cand = graft.operators.Materialize.shared(
      candNN.unionByName(candNC), col("a"))
    val parts = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    // union then ONE semi-join — see incrementalVerifiedEdges (r12)
    val tokenRows = toks
      .unionByName(DedupState.toks(s, n))
      .join(parts, Seq("doc_id"), "left_semi")
    val edges = Dedup.jaccardVerifyBitset(cand, tokenRows, "doc_id", materializeMasks = true)
      .filter(col("jaccard") >= 0.7).select("a", "b")
    DedupState.merge(s, "doc_id", batch.select("doc_id"), toks, longB,
      winnowSelect(batch, SpanW, WinnowW), edges, n, buckets)
  }

  /** The stored-state candidate self-join — exposed so PlanAuditSpec can
    * pin the zero-exchange shape (optionally forced to sort-merge so the
    * broadcast the small fixture would pick can't mask a missing
    * bucketing; with both sides bucketed, SMJ needs no exchange AND no
    * per-side sort beyond the bucket sort order).
    */
  private[graft] def storedSelfJoin(s: SparkSession, d: String,
                                    merge: Boolean = false): DataFrame = {
    val bands = DedupState.bands(s, fullCorpusState(s, d))
    Dedup.lshSelfCandidatePairsLong(
      if (merge) bands.hint("merge") else bands, "doc_id", K / R)
  }

  /** The incoming batch's (docs >= [[splitId]]) distinct-token rows and long-form
    * band table, checkpointed once per (session, sf dir) — the SAME
    * amortization [[tokensAndBands]] gives the corpus side, without which
    * the stored-state variants would re-tokenize and re-sign the batch
    * side every query while [[incremental]] reads its bands from the memo.
    * A real per-batch pipeline signs the batch ONCE and probes with it.
    */
  private val batchMemo = Memo.entry[(DataFrame, DataFrame)]("batchToksAndBands")

  private def batchToksAndBands(s: SparkSession, d: String): (DataFrame, DataFrame) =
    batchMemo(s, d) {
      val toks = graft.operators.Materialize.shared(Dedup.distinctTokenRows(
        Tables.documents(s, d).filter(col("doc_id") >= splitId(s, d)), "doc_id", "text"),
        col("doc_id"))
      val bands = Dedup.longBands(
        Dedup.minhashBands(Dedup.minhashSignatures(toks, "doc_id", K), "doc_id", K, R),
        "doc_id", K / R)
      (toks, graft.operators.Materialize.shared(bands, col("doc_id")))
    }

  /** The VERIFIED near-dup edges one ingest epoch contributes —
    * batch-self plus batch×corpus, the corpus side read off the persisted
    * bucketed state `st` (never re-paired with itself): the pair-delta
    * every incremental consumer shares ([[clustersIncremental]]'s merge,
    * [[graft.queries.GraphQueries]]'s stored edge-state advance). Batch
    * work is batch-sized; together with the standing corpus-self edges
    * this decomposes the full-corpus pair set exactly (bands are per-doc,
    * so candidate formation splits cleanly by id class — the equivalence
    * [[clustersIncremental]]'s shared oracle proves).
    */
  private val verifiedDeltaMemo = Memo.entry[DataFrame]("incrementalVerifiedEdges")

  private[queries] def incrementalVerifiedEdges(s: SparkSession, d: String,
                                                st: DedupState.Names): DataFrame = {
    def build(): DataFrame = {
      val batchBands = batchToksAndBands(s, d)._2
      val candNN = Dedup.lshSelfCandidatePairsLong(batchBands, "doc_id", K / R)
      val candNC = Dedup.lshCrossCandidatePairsLong(
        batchBands, DedupState.bands(s, st), "doc_id", K / R)
      // NN pairs (both ids >= splitId) and NC pairs (exactly one corpus
      // side) are disjoint by construction — no distinct() needed. ONE
      // consumer — the memoized corpus-mask probe (r13) — so the
      // candidate frame stays lazy and no per-query mask table is built
      wordJaccard(s, d, candNN.unionByName(candNC))
        .filter(col("jaccard") >= 0.7).select("a", "b")
    }
    // The one ingest epoch's verified pair DELTA is shared state, not
    // per-query work: a rolling deployment computes it once per epoch and
    // every incremental consumer reads it (`dedup_clusters_incremental`'s
    // merge, the graph edge-state advance). It is checkpointed once per
    // (session, dir) — the same sanctioned amortization
    // `storedVerifiedEdges` gives `clustersStored` — so the cluster-merge
    // query times the MERGE, not a re-verify per query.
    // `dedup_incremental`/`dedup_incremental_stored` do NOT read this memo:
    // they keep running their own probe+verify every query.
    verifiedDeltaMemo(s, d)(graft.operators.Materialize.shared(build(), col("a")))
  }

  /** The new-batch × stored-corpus band probe join — exposed so
    * PlanAuditSpec can pin the bucketed, corpus-side-exchange-free shape
    * (optionally pinned to sort-merge via `merge` so the broadcast the
    * small fixture would pick can't mask a missing bucketing).
    */
  private[graft] def storedCandidateJoin(s: SparkSession, d: String,
                                         st: DedupState.Names,
                                         merge: Boolean = false): DataFrame = {
    val newBands = batchToksAndBands(s, d)._2
    val corpus = DedupState.bands(s, st)
    Dedup.lshCrossCandidatePairsLong(
      newBands, if (merge) corpus.hint("merge") else corpus, "doc_id", K / R)
  }

  /** SemDeDup-style semantic dedup: k-means clusters as the blocking
    * structure, then within-cluster cosine pairs decide drops — a vector is
    * dropped when an EARLIER cluster-mate (smaller vec_id, the deterministic
    * keeper rule) is more similar than the threshold; `dup_of` reports the
    * first such keeper. Composes [[Similarity.kmeansFit]]/`kmeansAssign`
    * (assignment is a narrow zero-shuffle projection) with a cluster
    * equi-join — the scale contract is the cluster count growing with the
    * corpus so cluster SIZE stays bounded and the within-cluster join never
    * goes quadratic in n (here k=5 on the small fixture).
    *
    * Blocked differently from [[embeddingPairs]] (learned Voronoi cells vs
    * fixed label+sign-bucket): clusters adapt to where the vectors actually
    * are, which is what lets a threshold rule replace a top-k rule.
    */
  def semantic(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = Similarity.prepared(Tables.embeddings(s, d)).select(col("vec_id"), col("v"))
    val cents = SimilarityQueries.kmeans5x2(s, d)
    // checkpoint the assignment: both self-join branches read it, and an
    // uncached narrow subplan would be recomputed per branch — one extra
    // corpus scan plus k sq_dist evaluations per row (same move as the
    // shingle frame in ngramPairs)
    val assigned = Similarity.kmeansAssign(vecs, cents)
      .select("vec_id", "v", "cluster").transform(Materialize.frame)
    val x = assigned.select(col("vec_id").as("va"), col("v").as("xa"), col("cluster").as("ca"))
    val y = assigned.select(col("vec_id").as("vb"), col("v").as("xb"), col("cluster").as("cb"))
    val pairs = x.join(y, col("ca") === col("cb") && col("va") < col("vb"))
      .select(col("vb").as("vec_id"), col("cb").as("cluster"), col("va").as("dup_of"),
              round(Similarity.cosineNative(col("xa"), col("xb")), 4).as("sim"))
      .filter(col("sim") >= 0.4)
    val w = Window.partitionBy("vec_id").orderBy(asc("dup_of"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "cluster", "dup_of", "sim")
      .orderBy("vec_id")
  }

  /** Embedding-cosine near-dup: candidate pairs share (label, LSH bucket);
    * top-20 by rounded cosine.
    */
  def embeddingPairs(s: SparkSession, d: String): DataFrame = {
    val vecs = Similarity.prepared(Tables.embeddings(s, d))
    val anchors = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("aid"), col("v").as("av"))
    val eb = Similarity.withBuckets(vecs, anchors)
    val x = eb.select(col("vec_id").as("va"), col("v").as("xa"),
                      col("label").as("la"), col("bucket").as("ba"))
    val y = eb.select(col("vec_id").as("vb"), col("v").as("xb"),
                      col("label").as("lb"), col("bucket").as("bb"))
    x.join(y, col("ba") === col("bb") && col("la") === col("lb") && col("va") < col("vb"))
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), col("la").as("label"),
              round(Similarity.cosineNative(col("xa"), col("xb")), 4).as("sim"))
      .orderBy(desc("sim"), asc("vec_a"), asc("vec_b"))
      .limit(20)
  }

  /** Span-level exact dedup (the substring story doc-level dedup misses):
    * every 8-token rolling window (stride 1) that appears in >= 2 distinct
    * documents, emitted as POSITIONED occurrences `(doc_id, start,
    * span_md5)` — the actionable form: these are the exact spans a
    * substring-dedup pass cuts out of otherwise-unique documents
    * (RefinedWeb/"Deduplicating Training Data" style, hash-window
    * approximation of the suffix-array method).
    *
    * Scale shape: span hashes are built INSIDE array-land (`transform`
    * over a start-index sequence, then explode of the (start, md5) struct
    * array) so exploded rows carry 40 bytes, not the token array — the
    * stride-1 inflation is rows = tokens, unavoidable for positioned
    * output, and each row is tiny. The duplicate set is a groupBy on the
    * hash (count-distinct doc over 2 suffices — no positions shuffle) and
    * occurrences come back via a left-semi on the hash.
    */
  def spans(s: SparkSession, d: String): DataFrame = {
    // consumed twice (duplicate-set groupBy, occurrence semi-join) —
    // checkpointed once per (session, dir): the stride-1 window-md5 build
    // is the query's dominant cost and is identical every run — the same
    // standing-state amortization the winnowed span table gives
    // spansIncremental
    val w = spanWindowMemo(s, d)(
      graft.operators.Materialize.shared(spanWindows(s, d), col("doc_id")))
    val dup = w.groupBy("span_md5")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("span_md5")
    w.join(dup, Seq("span_md5"), "left_semi")
      .select("doc_id", "start", "span_md5")
      .orderBy("doc_id", "start", "span_md5")
  }

  /** The cut pass [[spans]] feeds: remove every token covered by a
    * NON-CANONICAL occurrence of a duplicated span (canonical = first by
    * (doc_id, start) — a `row_number` window over the candidate-sized
    * duplicated-occurrence set, never the corpus), and report per doc the
    * token counts plus an md5 of the surviving text. This is the actual
    * substring-dedup transform: globally, exactly one copy of every
    * duplicated 8-token span survives.
    *
    * Scale shape: the cut-position frame is ~8x the duplicated
    * occurrences (candidate-sized); the corpus-sized work is one
    * posexplode of token positions and one (doc_id, p) equi-join against
    * it, then a per-doc aggregate whose collect_list is bounded by
    * document length — no corpus-sized window, no cartesian anywhere.
    */
  def spansCut(s: SparkSession, d: String): DataFrame =
    // the shared operator CorpusJob composes; kept_md5 = md5(kept_text)
    // keeps this query's oracle hash byte-identical to the inline form
    Dedup.spanCut(Tables.documents(s, d), "doc_id", "text", w = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_cut"),
              md5(col("kept_text")).as("kept_md5"))
      .orderBy("doc_id")

  /** Winnowed span dedup — [[spans]] at sub-linear emitted-row cost. The
    * stride-1 stream emits one row per token; winnowing (the public
    * scheme from Schleimer–Wilkerson–Aiken's MOSS paper, a.k.a. minimizer
    * sampling) instead SELECTS a window hash only when it is the minimum
    * of at least one group of [[WinnowW]] consecutive window hashes. Two
    * guarantees make the sample safe for dedup:
    *
    *  - any duplicated span of >= SpanW + WinnowW - 1 (= 15) tokens fully
    *    contains a selection group, whose minimum depends ONLY on the
    *    span's own hashes — so both copies select the same fingerprint
    *    and the duplicate is still caught;
    *  - expected selection density is 2/(WinnowW+1) of positions, so the
    *    exploded stream (and the groupBy exchange it feeds) carries
    *    ~2·tokens/w rows, not tokens rows — the difference between a
    *    pass that fits the cluster at 100 TB and one that doesn't.
    *
    * Selection runs entirely in ARRAY-LAND inside one native expression
    * ([[graft.functions.WinnowSpans]]), so unselected windows are dropped
    * before the explode: no per-doc window-function shuffle, no
    * corpus-sized row stream anywhere — the exchange sees only the
    * winnowed sample. (Chained array HOFs cannot express this safely:
    * projection collapse inlines each stage's array into the next
    * lambda, re-evaluating it per ELEMENT — O(n²·w) md5 work per doc.)
    */
  def spansMinimized(s: SparkSession, d: String): DataFrame = {
    // consumed twice (duplicate-set groupBy, occurrence semi-join)
    val w = winnowedWindows(s, d).transform(Materialize.frame)
    val dup = w.groupBy("span_md5")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("span_md5")
    w.join(dup, Seq("span_md5"), "left_semi")
      .select("doc_id", "start", "span_md5")
      .orderBy("doc_id", "start", "span_md5")
  }

  /** Incremental span dedup against PERSISTED winnowed-window state — the
    * span-level leg of the rolling-ingest contract next to
    * [[incrementalStored]] (document pairs) and [[clustersIncremental]]
    * (cluster maintenance): the standing corpus's winnowed fingerprints
    * are a bucketed catalog table written once per ingest epoch
    * ([[DedupState.writeSpans]]); each incoming batch winnows only ITSELF
    * and probes the table on `span_md5` — the corpus is never re-winnowed
    * and, because the table is bucketed on exactly the probe key, its side
    * of the semi-join moves through NO exchange (PlanAuditSpec pins it).
    * Output: every batch window occurrence whose fingerprint already
    * exists in the corpus — the positions a span-cut pass would excise as
    * cross-corpus duplicated text. Winnowing is per-document, so
    * batch-filter-then-winnow ≡ winnow-then-filter and the oracle can
    * restate both sides from the same full-corpus selection.
    */
  def spansIncremental(s: SparkSession, d: String): DataFrame = {
    val st = corpusState(s, d)
    storedSpanJoin(s, d, st)
      .select("doc_id", "start", "span_md5")
      .orderBy("doc_id", "start", "span_md5")
  }

  /** The stored-span probe semi-join — exposed so PlanAuditSpec can pin
    * the exchange-free corpus side (forced to sort-merge so the broadcast
    * the small fixture would pick can't mask a missing bucketing).
    */
  private[graft] def storedSpanJoin(s: SparkSession, d: String,
                                    st: DedupState.Names,
                                    merge: Boolean = false): DataFrame = {
    val batch = winnowSelect(
      Tables.documents(s, d).filter(col("doc_id") >= splitId(s, d)), SpanW, WinnowW)
    val corpus = DedupState.spans(s, st).select("span_md5")
    batch.join(if (merge) corpus.hint("merge") else corpus,
               Seq("span_md5"), "left_semi")
  }

  private[graft] val SpanW = 8   // tokens per span window
  private[graft] val WinnowW = 8 // window hashes per winnowing group

  /** The winnowed (selected) positioned fingerprints — exposed
    * pre-checkpoint for PlanAuditSpec and the density/guarantee specs.
    */
  private[graft] def winnowedWindows(s: SparkSession, d: String): DataFrame =
    winnowToks(tokFrame(s, d).select(col("doc_id"), col("toks")), SpanW, WinnowW)

  /** Winnowing over any (doc_id, text) frame — one native-expression pass
    * per document, zero exchanges (pinned by PlanAuditSpec).
    */
  private[graft] def winnowSelect(docs: DataFrame, spanW: Int, winW: Int): DataFrame =
    winnowToks(
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")),
      spanW, winW)

  /** [[winnowSelect]] from an already-tokenized `(doc_id, toks)` frame —
    * the full-corpus path enters here via the shared [[tokFrame]].
    */
  private[graft] def winnowToks(toks: DataFrame, spanW: Int, winW: Int): DataFrame = {
    toks
      .filter(size(col("toks")) >= spanW)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFunctions.winnowSpans(col("toks"), spanW, winW)).as("sp"))
      .select(col("doc_id"), col("sp.start"), col("sp.span_md5"))
  }

  private val spanWindowMemo = Memo.entry[DataFrame]("spanWindows")

  /** The positioned window-hash stream spans() dedups — exposed
    * pre-checkpoint so PlanAuditSpec can pin the scan shape (a
    * checkpointed frame's plan starts at a Scan ExistingRDD).
    */
  private[graft] def spanWindows(s: SparkSession, d: String): DataFrame = {
    val W = 8
    tokFrame(s, d)
      .select(col("doc_id"), col("toks"))
      .filter(size(col("toks")) >= W)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - W + 1),
        i => struct(i.cast("long").as("start"),
                    md5(concat_ws(" ", slice(col("toks"), i, lit(W)))).as("span_md5"))))
        .as("sp"))
      .select(col("doc_id"), col("sp.start"), col("sp.span_md5"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (exact _),
    "dedup_cdc_chunks" -> (cdcDup _),
    "dedup_cdc_incremental" -> (cdcIncremental _),
    "dedup_bow" -> (bow _),
    "dedup_spans" -> (spans _),
    "dedup_spans_cut" -> (spansCut _),
    "dedup_spans_minimized" -> (spansMinimized _),
    "dedup_spans_incremental" -> (spansIncremental _),
    "dedup_exact_keep" -> (exactKeep _),
    "dedup_minhash_sigs" -> (minhashSigs _),
    "dedup_minhash_pairs" -> (minhashPairs _),
    "dedup_minhash_est" -> (minhashEst _),
    "dedup_decontam_fuzzy" -> (decontamFuzzy _),
    "dedup_decontam_purge" -> (decontamPurge _),
    "dedup_clusters" -> (clusters _),
    "dedup_clusters_stored" -> (clustersStored _),
    "dedup_clusters_incremental" -> (clustersIncremental _),
    "dedup_simhash" -> (simhash _),
    "dedup_simhash_pairs" -> (simhashPairs _),
    "dedup_ngram_pairs" -> (ngramPairs _),
    "dedup_prefix_pairs" -> (prefixPairs _),
    "dedup_containment" -> (containment _),
    "dedup_incremental" -> (incremental _),
    "dedup_incremental_stored" -> (incrementalStored _),
    "dedup_embedding" -> (embeddingPairs _),
    "dedup_semantic" -> (semantic _),
  )

  // ---- oracle SQL ----------------------------------------------------------

  private val tokCte =
    """tok AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
      |  WHERE token <> '')""".stripMargin

  // the winnowing selection restated in DuckDB window-function form —
  // shared verbatim by the minimized and incremental span oracles so the
  // two can never drift apart
  private val winnowSelCtes =
    """t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS start,
      |         md5(array_to_string(toks[i : i+7], ' ')) AS span_md5
      |  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
      |  WHERE len(toks) >= 8),
      |nw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY doc_id),
      |wm0 AS (
      |  SELECT w.doc_id, w.start, w.span_md5, nw.n,
      |         min(w.span_md5) OVER (PARTITION BY w.doc_id ORDER BY w.start
      |                               ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin_raw
      |  FROM w JOIN nw USING (doc_id)),
      |wm AS (
      |  SELECT doc_id, start, span_md5,
      |         CASE WHEN start <= greatest(n - 7, 1) THEN wmin_raw END AS wmin
      |  FROM wm0),
      |sel AS (
      |  SELECT doc_id, start, span_md5 FROM (
      |    SELECT doc_id, start, span_md5,
      |           max(wmin) OVER (PARTITION BY doc_id ORDER BY start
      |                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS mx
      |    FROM wm) WHERE mx = span_md5)""".stripMargin

  private val sigCols = (0 until K)
    .map(i => s"min(md5('$i:' || token)) AS m$i").mkString(",\n    ")

  private val bandCols = (0 until K / R).map { j =>
    val parts = (j * R until (j + 1) * R).map(i => s"m$i").mkString(" || ")
    s"md5($parts) AS band$j"
  }.mkString(",\n  ")

  private val simhashCtes =
    """tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
      |  WHERE token <> '' GROUP BY doc_id, token),
      |th AS (
      |  SELECT doc_id, tf, CAST('0x' || substring(md5(token), 1, 15) AS BIGINT) AS h FROM tf),
      |bits AS (
      |  SELECT doc_id, b,
      |    CASE WHEN sum(tf * (2 * ((h >> CAST(b AS INTEGER)) & 1) - 1)) > 0
      |         THEN 1 ELSE 0 END AS vote
      |  FROM th, (SELECT unnest(range(0, 60)) AS b) bs
      |  GROUP BY doc_id, b),
      |sh AS (
      |  SELECT doc_id,
      |    CAST(sum(vote * (CAST(1 AS BIGINT) << CAST(b AS INTEGER))) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  // MATERIALIZED: DuckDB 1.0 INLINES a CTE at every reference, so a
  // multi-referenced stage (tok feeds sig + sz + both inter sides; bl
  // self-joins) re-runs per reference — at sf0.1 that is what pushed the
  // graph/cluster/incremental oracles past the comparator's 300 s budget.
  // The hint pins each stage to one evaluation; results are unchanged.
  private val sigBandsCtes =
    s"""$tokCte,
       |sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM tok GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id,
       |  $bandCols
       |  FROM sig)""".stripMargin

  /** The full verified-pair pipeline (LSH banding → candidate pairs →
    * exact Jaccard ≥ 0.7) as a CTE chain ending in `vp(a, b, jac)`, the
    * candidate-side predicate parametrized: `x.doc_id < y.doc_id` for the
    * intra-corpus pair census, a cross-split predicate for the fuzzy
    * decontamination probe. One chain, so no consumer's notion of
    * "near-duplicate pair" can drift from another's.
    */
  private[queries] def verifiedPairsCtesWith(candPred: String): String =
    s"""$sigBandsCtes,
       |bl AS MATERIALIZED (
       |  SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM bands
       |  UNION ALL SELECT doc_id, 1, band1 FROM bands
       |  UNION ALL SELECT doc_id, 2, band2 FROM bands
       |  UNION ALL SELECT doc_id, 3, band3 FROM bands),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bl x JOIN bl y
       |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       |   AND $candPred),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM tok GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS n_inter
       |  FROM cand c
       |  JOIN tok ta ON c.a = ta.doc_id
       |  JOIN tok tb ON c.b = tb.doc_id AND ta.token = tb.token
       |  GROUP BY c.a, c.b),
       |vp AS MATERIALIZED (
       |  SELECT i.a, i.b,
       |    CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jac
       |  FROM inter i
       |  JOIN sz sa ON i.a = sa.doc_id
       |  JOIN sz sb ON i.b = sb.doc_id
       |  WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.7)""".stripMargin

  private[queries] val verifiedPairsCtes: String =
    verifiedPairsCtesWith("x.doc_id < y.doc_id")

  /** Shared by `dedup_incremental` and `dedup_incremental_stored`: the two
    * queries differ only in WHERE the corpus bands/tokens come from
    * (recompute vs bucketed state), never in what they emit.
    */
  /** The connected-components tail of the clusters oracle as a BOUNDED
    * unrolled round chain (hash-min label propagation + one pointer-jump
    * per round — the bpeMerges per-round-CTE device applied to CC):
    * DuckDB's recursive-CTE transitive closure enumerates (node,
    * reachable-smaller-root) pairs, which explodes combinatorially on the
    * near-clique components the sf0.1 fixture contains (the sweep's one
    * "does not complete" family), whereas the monotone hash-min round is
    * edge-sized and the jump halves forest depth per round, so
    * [[CcRounds]] = 12 covers component depth ≫ the corpus sizes the
    * comparator runs. BOUNDED ≠ approximate: every update is a `least`,
    * so labels only descend, and the final CASE raises `error(...)` if the
    * last two rounds differ — a non-converged chain fails the gate loudly
    * instead of hashing a wrong answer. At a fixpoint all labels within a
    * component are provably its minimum id (an unstable edge would still
    * be descending).
    */
  private val CcRounds = 12

  private def ccChain(nodesSql: String, edgesRel: String): String = {
    val rounds = (1 to CcRounds).map { k =>
      val prev = s"l${k - 1}"
      s"""nm$k AS (
         |  SELECT e.src AS id, min(l.lbl) AS nl
         |  FROM $edgesRel e JOIN $prev l ON e.dst = l.id GROUP BY e.src),
         |j$k AS MATERIALIZED (
         |  SELECT l.id, least(l.lbl, coalesce(m.nl, l.lbl)) AS lbl
         |  FROM $prev l LEFT JOIN nm$k m ON l.id = m.id),
         |l$k AS MATERIALIZED (
         |  SELECT x.id, least(x.lbl, coalesce(y.lbl, x.lbl)) AS lbl
         |  FROM j$k x LEFT JOIN j$k y ON x.lbl = y.id)""".stripMargin
    }
    s"""l0 AS MATERIALIZED ($nodesSql),
       |${rounds.mkString(",\n")},
       |chk AS (SELECT CAST(count(*) AS BIGINT) AS c
       |        FROM l$CcRounds x JOIN l${CcRounds - 1} y
       |          ON x.id = y.id AND x.lbl <> y.lbl)""".stripMargin
  }

  /** The converged-label projection every [[ccChain]] consumer selects
    * from: the component id, poisoned loudly when the chain did not reach
    * its fixpoint.
    */
  private val ccLbl: String =
    s"""CAST(CASE WHEN (SELECT c FROM chk) > 0
       |          THEN error('cc hash-min chain not converged in $CcRounds rounds')
       |          ELSE lbl END AS BIGINT)""".stripMargin

  /** Shared by `dedup_clusters`, `dedup_clusters_stored` and
    * `dedup_clusters_incremental`: the pair pipeline restated
    * band-by-band, then the bounded [[ccChain]] closure.
    */
  private val clustersSql: String =
    s"""WITH $sigBandsCtes,
       |bl AS MATERIALIZED (
       |  SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM bands
       |  UNION ALL SELECT doc_id, 1, band1 FROM bands
       |  UNION ALL SELECT doc_id, 2, band2 FROM bands
       |  UNION ALL SELECT doc_id, 3, band3 FROM bands),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bl x JOIN bl y
       |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM tok GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS n_inter
       |  FROM cand c
       |  JOIN tok ta ON c.a = ta.doc_id
       |  JOIN tok tb ON c.b = tb.doc_id AND ta.token = tb.token
       |  GROUP BY c.a, c.b),
       |pairs AS MATERIALIZED (
       |  SELECT i.a AS doc_a, i.b AS doc_b
       |  FROM inter i JOIN sz sa ON i.a = sa.doc_id JOIN sz sb ON i.b = sb.doc_id
       |  WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.7),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |${ccChain("SELECT doc_id AS id, doc_id AS lbl FROM documents", "edges")}
       |SELECT id AS doc_id, $ccLbl AS comp,
       |       (id = lbl) AS keeper
       |FROM l$CcRounds ORDER BY doc_id""".stripMargin

  private val incrementalSql: String =
    s"""WITH $sigBandsCtes,
       |bl AS MATERIALIZED (
       |  SELECT doc_id, 0 AS band_idx, band0 AS band_val FROM bands
       |  UNION ALL SELECT doc_id, 1, band1 FROM bands
       |  UNION ALL SELECT doc_id, 2, band2 FROM bands
       |  UNION ALL SELECT doc_id, 3, band3 FROM bands),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bl x JOIN bl y
       |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       |  WHERE x.doc_id >= $splitSql AND y.doc_id < $splitSql),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM tok GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS n_inter
       |  FROM cand c
       |  JOIN tok ta ON c.a = ta.doc_id
       |  JOIN tok tb ON c.b = tb.doc_id AND ta.token = tb.token
       |  GROUP BY c.a, c.b)
       |SELECT i.a AS new_id, i.b AS corpus_id,
       |  round(CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE), 4) AS jaccard
       |FROM inter i
       |JOIN sz sa ON i.a = sa.doc_id
       |JOIN sz sb ON i.b = sb.doc_id
       |WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.7
       |ORDER BY new_id, corpus_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS start,
        |         md5(array_to_string(toks[i : i+7], ' ')) AS span_md5
        |  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
        |  WHERE len(toks) >= 8),
        |d AS (
        |  SELECT span_md5 FROM w GROUP BY span_md5
        |  HAVING count(DISTINCT doc_id) >= 2)
        |SELECT w.doc_id, w.start, w.span_md5
        |FROM w JOIN d USING (span_md5)
        |ORDER BY doc_id, start, span_md5""".stripMargin,
    "dedup_spans_cut" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS start,
        |         md5(array_to_string(toks[i : i+7], ' ')) AS span_md5
        |  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
        |  WHERE len(toks) >= 8),
        |dup AS (
        |  SELECT span_md5 FROM w GROUP BY span_md5
        |  HAVING count(DISTINCT doc_id) >= 2),
        |occ AS (
        |  SELECT w.doc_id, w.start,
        |         row_number() OVER (PARTITION BY w.span_md5
        |                            ORDER BY w.doc_id, w.start) AS rn
        |  FROM w JOIN dup USING (span_md5)),
        |cut AS (
        |  SELECT DISTINCT doc_id, start + o AS p
        |  FROM occ, unnest(range(0, 8)) AS v(o) WHERE rn > 1),
        |tok AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p, toks[CAST(p AS INT)] AS tok
        |  FROM t, unnest(range(1, len(toks) + 1)) AS u(p))
        |SELECT tok.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(count(cut.p) AS BIGINT) AS n_cut,
        |       md5(coalesce(array_to_string(
        |         list(tok.tok ORDER BY tok.p) FILTER (WHERE cut.p IS NULL), ' '),
        |         '')) AS kept_md5
        |FROM tok LEFT JOIN cut ON tok.doc_id = cut.doc_id AND tok.p = cut.p
        |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,
    // the oracle restates winnowing in window-function form: group-min via
    // a CURRENT..7 FOLLOWING frame (NULLed beyond the clamped last group),
    // selection via max-of-group-minima over the 7 PRECEDING..CURRENT
    // frame reaching the position's own hash — provably the same rule as
    // the Spark array-land formulation
    "dedup_spans_minimized" ->
      s"""WITH $winnowSelCtes,
        |dup AS (
        |  SELECT span_md5 FROM sel GROUP BY span_md5
        |  HAVING count(DISTINCT doc_id) >= 2)
        |SELECT sel.doc_id, sel.start, sel.span_md5
        |FROM sel JOIN dup USING (span_md5)
        |ORDER BY doc_id, start, span_md5""".stripMargin,
    // winnowing is per-document, so the full-corpus selection filtered to
    // each side restates exactly what the Spark path computes (stored
    // corpus spans + freshly winnowed batch)
    "dedup_spans_incremental" ->
      s"""WITH $winnowSelCtes
        |SELECT b.doc_id, b.start, b.span_md5
        |FROM sel b
        |WHERE b.doc_id >= $splitSql AND EXISTS (
        |  SELECT 1 FROM sel c WHERE c.doc_id < $splitSql AND c.span_md5 = b.span_md5)
        |ORDER BY doc_id, start, span_md5""".stripMargin,
    "dedup_exact" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT text) AS BIGINT) AS n_unique_text,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_md5
        |FROM documents""".stripMargin,
    "dedup_cdc_chunks" ->
      // replays the identical content-defined boundary rule (31-weighted
      // polynomial of the 4 per-token md5-prefix hashes ending at p,
      // ≡ 0 mod 8) and cut-point fold, so chunk identities are bit-equal
      // across engines
      s"""WITH ${cdcChunksSql("TRUE", "c")}
         |SELECT md5(chunk) AS chunk_md5,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occ,
         |  min(doc_id) AS first_doc,
         |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_toks
         |FROM c
         |GROUP BY chunk
         |HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY chunk_md5""".stripMargin,
    "dedup_cdc_incremental" ->
      // the SAME chunk CTE chain on both split halves; the probe is a
      // semi-join on the chunk hash, then per-doc totals
      s"""WITH ${cdcChunksSql(s"doc_id >= $splitSql", "bc")},
         |${cdcChunksSql(s"doc_id < $splitSql", "cc")},
         |corp AS (SELECT DISTINCT md5(chunk) AS h FROM cc),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
         |        FROM bc GROUP BY doc_id),
         |hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_corpus_chunks
         |        FROM (SELECT doc_id, md5(chunk) AS h FROM bc) x
         |        JOIN corp USING (h)
         |        GROUP BY doc_id)
         |SELECT t.doc_id AS new_id, t.n_chunks, h.n_corpus_chunks,
         |  round(h.n_corpus_chunks / CAST(t.n_chunks AS DOUBLE), 4) AS containment
         |FROM tot t JOIN hit h USING (doc_id)
         |ORDER BY new_id""".stripMargin,
    "dedup_exact_keep" ->
      """SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    "dedup_bow" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    md5(array_to_string(
        |      list_sort(list_filter(string_split(text, ' '), x -> x <> '')), ' '))
        |      AS bow_md5
        |  FROM documents)
        |SELECT doc_id, bow_md5,
        |  CAST(min(doc_id) OVER (PARTITION BY bow_md5) AS BIGINT) AS canon_id,
        |  CAST(count(*) OVER (PARTITION BY bow_md5) AS BIGINT) AS n_docs,
        |  doc_id = min(doc_id) OVER (PARTITION BY bow_md5) AS keeper
        |FROM b ORDER BY doc_id""".stripMargin,
    "dedup_minhash_sigs" ->
      s"""WITH $sigBandsCtes
         |SELECT doc_id, band0, band1, band2, band3 FROM bands ORDER BY doc_id""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH $verifiedPairsCtes
         |SELECT a AS doc_a, b AS doc_b, round(jac, 4) AS jaccard
         |FROM vp ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_minhash_est" -> {
      val agree = (0 until K)
        .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $verifiedPairsCtes
         |SELECT vp.a AS doc_a, vp.b AS doc_b, round(vp.jac, 4) AS jaccard,
         |       round(($agree) / $K.0, 4) AS jaccard_est
         |FROM vp
         |JOIN sig sa ON vp.a = sa.doc_id
         |JOIN sig sb ON vp.b = sb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "dedup_decontam_fuzzy" ->
      s"""WITH ${verifiedPairsCtesWith("x.doc_id % 10 <> 0 AND y.doc_id % 10 = 0")}
         |SELECT a AS train_doc, b AS eval_doc, round(jac, 4) AS jaccard
         |FROM vp ORDER BY train_doc, eval_doc""".stripMargin,
    "dedup_decontam_purge" ->
      // tier 2 is the SAME factored cross-split chain as the fuzzy probe;
      // tier 3 restates the dedup_spans 8-token window convention
      s"""WITH ${verifiedPairsCtesWith("x.doc_id % 10 <> 0 AND y.doc_id % 10 = 0")},
         |d2 AS (SELECT doc_id, source, md5(text) AS th FROM documents),
         |ev AS (SELECT DISTINCT th FROM d2 WHERE doc_id % 10 = 0),
         |fz AS (SELECT DISTINCT a AS doc_id FROM vp),
         |t2 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |       FROM documents),
         |w2 AS (SELECT doc_id, md5(array_to_string(toks[i : i+7], ' ')) AS g
         |       FROM t2, unnest(range(1, len(toks) - 6)) AS u(i)
         |       WHERE len(toks) >= 8),
         |dg2 AS (SELECT DISTINCT doc_id, g FROM w2),
         |evg AS (SELECT DISTINCT g FROM dg2 WHERE doc_id % 10 = 0),
         |gi AS (SELECT DISTINCT doc_id FROM dg2
         |       WHERE doc_id % 10 <> 0 AND g IN (SELECT g FROM evg)),
         |tr AS (
         |  SELECT d2.doc_id, d2.source,
         |    CASE WHEN ev.th IS NOT NULL THEN 1 ELSE 0 END AS he,
         |    CASE WHEN fz.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hf,
         |    CASE WHEN gi.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hg
         |  FROM d2
         |  LEFT JOIN ev ON d2.th = ev.th
         |  LEFT JOIN fz ON d2.doc_id = fz.doc_id
         |  LEFT JOIN gi ON d2.doc_id = gi.doc_id
         |  WHERE d2.doc_id % 10 <> 0)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_train,
         |  CAST(sum(he) AS BIGINT) AS n_exact,
         |  CAST(sum(hf) AS BIGINT) AS n_fuzzy,
         |  CAST(sum(hg) AS BIGINT) AS n_gram,
         |  CAST(sum(CASE WHEN he = 0 AND hf = 0 AND hg = 0 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_clean
         |FROM tr GROUP BY source ORDER BY source""".stripMargin,
    "dedup_clusters" -> clustersSql,
    // periodic re-clustering from stored state must be ROW-IDENTICAL to
    // the recomputing form — same oracle, so state drift breaks the hash
    "dedup_clusters_stored" -> clustersSql,
    // incremental batch-merge via contracted components must also be
    // ROW-IDENTICAL to full clustering — the contraction-soundness proof
    "dedup_clusters_incremental" -> clustersSql,
    "dedup_incremental" -> incrementalSql,
    // the stored variant must be ROW-IDENTICAL to the recomputing one —
    // same oracle, so any drift in the persisted state breaks the hash
    "dedup_incremental_stored" -> incrementalSql,
    "dedup_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $simhashCtes,
         |bl AS MATERIALIZED (
         |  SELECT doc_id, (simhash >> CAST(15 * j AS INTEGER)) & 32767 AS bv, j
         |  FROM sh, range(0, 4) AS r(j)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bl x JOIN bl y ON x.j = y.j AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT c.a AS doc_a, c.b AS doc_b,
         |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
         |FROM cand c
         |JOIN sh sa ON c.a = sa.doc_id
         |JOIN sh sb ON c.b = sb.doc_id
         |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_prefix_pairs" ->
      // replays the identical LOSSLESS prefix filter (rarity-ordered
      // prefixes, integer ceil arithmetic) so DuckDB never joins the
      // frequent-token posting lists either; final output is the exact
      // integer-threshold Jaccard cut, independent of candidate details
      """WITH tok AS (
        |  SELECT doc_id, unnest(sh) AS token FROM (
        |    SELECT doc_id,
        |      list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |          FROM documents) t) s),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY token),
        |rk AS (
        |  SELECT t.doc_id, t.token,
        |    row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.token) AS rn,
        |    count(*) OVER (PARTITION BY t.doc_id) AS n
        |  FROM tok t JOIN dfreq f ON t.token = f.token),
        |pref AS (
        |  SELECT doc_id, token, n FROM rk
        |  WHERE rn <= n - (6 * n + 9) // 10 + 1),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM pref x JOIN pref y ON x.token = y.token
        |   AND x.doc_id < y.doc_id
        |   AND x.n * 10 >= y.n * 6 AND y.n * 10 >= x.n * 6),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS i
        |  FROM cand c
        |  JOIN tok ta ON ta.doc_id = c.a
        |  JOIN tok tb ON tb.doc_id = c.b AND tb.token = ta.token
        |  GROUP BY c.a, c.b)
        |SELECT i.a AS doc_a, i.b AS doc_b, i.i AS n_inter,
        |  sa.n + sb.n - i.i AS n_union,
        |  round(CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE), 4) AS jaccard
        |FROM inter i
        |JOIN sz sa ON sa.doc_id = i.a
        |JOIN sz sb ON sb.doc_id = i.b
        |WHERE i.i * 10 >= (sa.n + sb.n - i.i) * 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM (SELECT doc_id, lang, n_chars,
        |          list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |        FROM documents) t),
        |cand AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM d x JOIN d y ON x.lang = y.lang AND x.doc_id < y.doc_id
        |   AND abs(x.n_chars - y.n_chars) <= 5),
        |shr AS (SELECT doc_id, unnest(sh) AS g FROM d),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shr GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS n_inter
        |  FROM cand c
        |  JOIN shr xa ON c.a = xa.doc_id
        |  JOIN shr xb ON c.b = xb.doc_id AND xa.g = xb.g
        |  GROUP BY c.a, c.b)
        |SELECT i.a AS doc_a, i.b AS doc_b,
        |  round(CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE), 4) AS jaccard
        |FROM inter i
        |JOIN sz sa ON i.a = sa.doc_id
        |JOIN sz sb ON i.b = sb.doc_id
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "dedup_containment" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |        FROM documents) t),
        |shr AS (SELECT doc_id, unnest(sh) AS g FROM d),
        |rare AS (SELECT g FROM shr GROUP BY g HAVING count(*) <= 5),
        |ev AS (SELECT doc_id AS a, g FROM shr WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id AS b, g FROM shr WHERE doc_id % 10 <> 0),
        |cand AS (SELECT DISTINCT ev.a, tr.b FROM ev JOIN rare USING (g) JOIN tr USING (g)),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shr GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS n_inter
        |  FROM cand c JOIN shr xa ON c.a = xa.doc_id
        |  JOIN shr xb ON c.b = xb.doc_id AND xa.g = xb.g
        |  GROUP BY c.a, c.b)
        |SELECT i.a AS eval_id, i.b AS train_id,
        |  round(CAST(i.n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE), 4) AS containment
        |FROM inter i JOIN sz sa ON i.a = sa.doc_id
        |WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.5
        |ORDER BY eval_id, train_id""".stripMargin,
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |a8 AS (SELECT vec_id AS aid, v AS av FROM e WHERE vec_id < 8),
        |bk AS (
        |  SELECT e.vec_id, CAST(sum(
        |    CASE WHEN list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i] * a8.av[i])) > 0
        |         THEN (CAST(1 AS BIGINT) << CAST(a8.aid AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM e, a8 GROUP BY e.vec_id),
        |eb AS (SELECT e.vec_id, e.v, e.label, bk.bucket FROM e JOIN bk USING (vec_id))
        |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.label AS label,
        |  round(list_sum(list_transform(range(1, len(x.v)+1), i -> x.v[i] * y.v[i]))
        |    / (sqrt(list_sum(list_transform(x.v, t -> t*t)))
        |       * sqrt(list_sum(list_transform(y.v, t -> t*t)))), 4) AS sim
        |FROM eb x JOIN eb y
        |  ON x.bucket = y.bucket AND x.label = y.label AND x.vec_id < y.vec_id
        |ORDER BY sim DESC, vec_a, vec_b LIMIT 20""".stripMargin,
    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |seed AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv FROM e WHERE vec_id < 5),
         |${SimilarityQueries.duckKmRound("seed", 1)},
         |${SimilarityQueries.duckKmRound("u1", 2)},
         |${SimilarityQueries.duckKmAssign("u2", 3)},
         |p AS (
         |  SELECT y.vec_id, y.cluster, x.vec_id AS dup_of,
         |    round(${SimilarityQueries.duckCos("x.v", "y.v")}, 4) AS sim
         |  FROM a3 x JOIN a3 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id),
         |q AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dup_of ASC) AS rn
         |      FROM p WHERE sim >= 0.4)
         |SELECT vec_id, cluster, dup_of, sim FROM q WHERE rn = 1 ORDER BY vec_id""".stripMargin,
  )
}
