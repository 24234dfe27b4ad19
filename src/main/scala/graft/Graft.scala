package graft

import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curated public surface of the engine — the entry point a USER codes
  * against, as opposed to the driver contract ([[SparkEntry]]) and the
  * benchmark/verify mains that exercise it. Every method here is a thin,
  * stable veneer over the operator packages (`graft.operators`,
  * `graft.functions`, `graft.sinks`): the facade adds no semantics of its
  * own, so each family's real documentation — determinism rules, scale
  * posture, failure stance — lives on the operator it delegates to, and
  * the facade's scaladoc says only what the method is FOR and what shape
  * it needs.
  *
  * Column conventions, shared by every method unless a parameter says
  * otherwise: documents are `(doc_id: long, text: string)`, embeddings
  * are `(vec_id: long, embedding: array<float>, label)`, and outputs keep
  * the caller's extra columns wherever the underlying operator does.
  *
  * README §"Five recipes" shows each family end-to-end on the test
  * fixtures; the recipes compile against this facade and run under the
  * verify skill's smoke path.
  */
object Graft {

  /** A session wired with the engine's conventions
    * ([[Sessions.withGraftConf]]): UTC, the ns-timestamp parquet flag, a
    * hermetic temp warehouse and the [[graft.plans.GraftExtensions]]
    * surface (the `PruneExpandBranches` optimizer rule + every custom
    * function: sketches, cosine/sq-dist, winnowing, CDC, Hilbert). On a
    * cluster with your own builder, pass `--conf spark.sql.extensions=
    * graft.plans.GraftExtensions` instead; this factory is the
    * embedded/notebook path.
    */
  def session(appName: String = "graft", master: String = "local[*]",
              shufflePartitions: Int = 32): SparkSession =
    Sessions.withGraftConf(SparkSession.builder()
        .master(master)
        .appName(appName)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.sql.adaptive.enabled", "true"))
      .getOrCreate()

  // ------------------------------------------------------------------
  // dedup — exact, near-dup pairs, clusters
  // ------------------------------------------------------------------

  /** Exact dedup: keep the lowest-id document per identical `textCol`.
    * One hash aggregate + one semi-join; linear at any scale.
    */
  def dedupExact(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val keep = docs.select(col(idCol), md5(col(textCol)).as("__h"))
      .groupBy("__h").agg(min(idCol).as(idCol))
      .select(idCol)
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Verified near-duplicate pairs `(a, b, jaccard)` with exact token
    * Jaccard ≥ `threshold`, candidates from MinHash+LSH banding (`k`
    * signatures in `k/r` bands — never an all-pairs join; see
    * [[Dedup.minhashBands]] / [[Dedup.lshCandidatePairs]]).
    */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", threshold: Double = 0.7,
                   k: Int = 16, r: Int = 4): DataFrame = {
    val toks = Dedup.distinctTokenRows(docs, idCol, textCol)
    val bands = Dedup.minhashBands(
      Dedup.minhashSignatures(toks, idCol, k), idCol, k, r)
    val cand = Dedup.lshCandidatePairs(bands, idCol, k / r)
    Dedup.jaccardVerifyBitset(cand, toks, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** Near-duplicate clusters: connected components over
    * [[nearDupPairs]]-style edges. Returns `(idCol, comp, keeper)` where
    * `comp` is the cluster's canonical (minimum) id and `keeper` marks
    * the one document a pipeline retains per cluster.
    */
  def nearDupClusters(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      threshold: Double = 0.7): DataFrame =
    Dedup.connectedComponents(
        nearDupPairs(docs, idCol, textCol, threshold).select("a", "b"),
        docs.select(idCol), idCol)
      .withColumn("keeper", col(idCol) === col("comp"))

  // ------------------------------------------------------------------
  // decontaminate — strip eval/benchmark contamination from training data
  // ------------------------------------------------------------------

  /** Drop every training document sharing an exact text, an 8-gram, or a
    * fuzzy (MinHash cross-join) overlap with the eval set — the
    * three-tier purge `dedup_decontam_purge` runs, train×eval only so
    * probe cost scales with the benchmark, not the corpus. Returns the
    * surviving training rows.
    *
    * `train` and `eval` ids must be disjoint, one row per id: the fuzzy
    * tier pairs train ids with eval ids only
    * ([[Dedup.fuzzyContaminatedIds]]'s cross-pair contract).
    */
  def decontaminate(train: DataFrame, eval: DataFrame,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val exactHit = train.select(col(idCol), md5(col(textCol)).as("__h"))
      .join(eval.select(md5(col(textCol)).as("__h")).distinct(), Seq("__h"),
        "left_semi")
      .select(idCol)
    val gram = (df: DataFrame) =>
      df.select(col(idCol), explode(Dedup.ngramShingles(
        TextAnalysis.tokens(col(textCol)), 8)).as("__g"))
    val gramHit = gram(train)
      .join(gram(eval).select("__g").distinct(), Seq("__g"), "left_semi")
      .select(idCol).distinct()
    val fuzzyHit = Dedup.fuzzyContaminatedIds(train, eval, idCol, textCol)
    train.join(exactHit.union(gramHit).union(fuzzyHit).distinct(),
      Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------------
  // sample — deterministic, reproducible selection
  // ------------------------------------------------------------------

  /** Deterministic Bernoulli sample: a row is in iff
    * `hash60(key, salt) < fraction` — membership is a pure function of
    * the key, so re-runs, retries and different partitionings select the
    * identical rows (no `rand()` anywhere).
    */
  def sample(df: DataFrame, key: Column, fraction: Double,
             salt: String = ""): DataFrame =
    Sampling.deterministic(df, key, fraction, salt)

  /** Disjoint deterministic train/val/test-style assignment: adds a
    * `split` column from contiguous hash ranges (fractions sum ≤ 1; the
    * remainder gets NULL). Same key ⇒ same split, forever.
    */
  def split(df: DataFrame, key: Column,
            splits: Seq[(String, Double)]): DataFrame =
    Sampling.splitAssign(df, key, splits)

  /** Per-stratum deterministic sampling at per-stratum fractions keyed on
    * `key` (strata absent from the map keep nothing).
    */
  def stratifiedSample(df: DataFrame, strata: Column,
                       fractions: Map[String, Double], key: Column,
                       salt: String = ""): DataFrame =
    Sampling.stratified(df, strata, fractions, key, salt)

  // ------------------------------------------------------------------
  // pack — context-window packing for training
  // ------------------------------------------------------------------

  /** Whole-document best-fit-decreasing packing of
    * `(lang, doc_id, n_toks)` rows into ≤2048-token bins; returns
    * `(lang, doc_id, n_toks, bin)` with bins unique per `(lang, bin)`.
    * Exact BFD within bounded (lang, shard) groups — massively parallel,
    * never a single sequential scan ([[Packing.bestFitDecreasing]]).
    */
  def packBins(docs: DataFrame): DataFrame =
    Packing.bestFitDecreasing(docs, Packing.ShardDocs)

  // ------------------------------------------------------------------
  // ann — approximate nearest neighbours over embeddings
  // ------------------------------------------------------------------

  /** Brute-force cosine top-k of `vecs` (`vec_id`, `v: array<double>`)
    * for each query row (`qid`, `qv`) — exact; the oracle for every
    * approximate path. Use for probe-sized query sets only.
    */
  def knn(vecs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    Similarity.bruteForceTopK(vecs, queries, k)
  }

  /** Banded sign-LSH candidate buckets for `vecs` — the production ANN
    * blocking path (recall compounds across bands; see README "Choosing
    * an ANN path"). `anchors` are `(aid, av)` rows, typically a handful
    * of in-data vectors; returns `vecs` with band columns to equi-join
    * on.
    */
  def lshBands(vecs: DataFrame, anchors: DataFrame): DataFrame = {
    Similarity.withBuckets(vecs, anchors)
  }

  // ------------------------------------------------------------------
  // profile — corpus statistics without corpus sorts
  // ------------------------------------------------------------------

  /** Exact values at the given ranks of a (possibly huge) numeric column
    * `v` via recursive histogram selection — never sorts more than
    * `sortCap` rows in one task ([[OrderStats.selectRanks]]). Returns
    * rank → value.
    */
  def valuesAtRanks(values: DataFrame, ranks: Seq[Long]): Map[Long, Long] =
    OrderStats.selectRanks(values, ranks)._1

  /** Gopher/C4-style quality screen columns for a document frame: token
    * count, mean word length, stopword ratio, alpha ratio — all
    * single-pass map-side expressions ([[TextAnalysis]]).
    */
  def qualityScreen(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    docs.withColumn("n_toks", size(toks))
      .withColumn("mean_word_len",
        when(size(toks) > 0,
          aggregate(toks, lit(0L), (acc, t) => acc + length(t))
            .cast("double") / size(toks)))
      .withColumn("stopword_ratio", TextAnalysis.stopwordRatioOf(toks))
      .withColumn("alpha_ratio",
        when(length(col(textCol)) > 0,
          length(regexp_replace(col(textCol), "[^A-Za-z]", ""))
            .cast("double") / length(col(textCol))))
  }

  // ------------------------------------------------------------------
  // layout — write-time data organization
  // ------------------------------------------------------------------

  /** Write `df` z-ordered on `cols` into `numFiles` parquet files at
    * `path` — multi-dimensional file-skipping layout with deterministic
    * split points ([[Layout.writeZOrdered]]).
    */
  def writeZOrdered(df: DataFrame, cols: Seq[String], path: String,
                    numFiles: Int): Unit =
    Layout.writeZOrdered(df, cols, path, numFiles)

  /** Persist `df` as a catalog table hash-bucketed + sorted on `key` —
    * pre-pays the shuffle of every future join/agg on that key
    * ([[Layout.writeBucketed]]).
    */
  def writeBucketed(df: DataFrame, key: String, table: String,
                    numBuckets: Int): Unit =
    Layout.writeBucketed(df, key, table, numBuckets)
}
