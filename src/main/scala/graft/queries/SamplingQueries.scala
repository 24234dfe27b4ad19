package graft.queries

import graft.Tables
import graft.operators.{Sampling, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic-sampling extension suite over `documents`: hash-membership
  * Bernoulli and stratified samples, reproduced exactly by the DuckDB
  * oracle (the whole point — a sample that two engines agree on row for
  * row is a sample a re-run agrees on too).
  */
object SamplingQueries {

  /** Poisson bootstrap over documents: 3 deterministic replicates of the
    * per-language mean doc length, each row weighted by its hash-derived
    * Poisson(1) multiplicity ([[Sampling.poissonMultiplicity]]) — the
    * single-pass, shuffle-free form of bootstrap resampling (multinomial
    * counts → independent Poisson(1) in the large-n limit), which is how
    * variance/CI estimation actually runs over a 100 TB corpus: no global
    * resample is ever materialized, replicates differ only by salt, and
    * the whole thing is one scan + one groupBy. All weights are exact
    * integers against shared integer CDF thresholds, so sums match
    * bit-for-bit; the mean divides two exact BIGINTs with a zero guard in
    * both engines.
    */
  def bootstrap(s: SparkSession, d: String): DataFrame = {
    val m = Tables.documents(s, d).select(
      col("lang"), col("n_chars"),
      Sampling.poissonMultiplicity(col("doc_id"), "boot0").as("m0"),
      Sampling.poissonMultiplicity(col("doc_id"), "boot1").as("m1"),
      Sampling.poissonMultiplicity(col("doc_id"), "boot2").as("m2"))
    m.selectExpr("lang", "n_chars",
        "stack(3, 0L, m0, 1L, m1, 2L, m2) AS (rep, m)")
      .groupBy(col("lang"), col("rep"))
      .agg(sum("m").as("n_eff"),
           sum(col("m") * col("n_chars")).as("sum_chars"))
      .select(col("lang"), col("rep"), col("n_eff"), col("sum_chars"),
        when(col("n_eff") > 0,
          round(col("sum_chars").cast("double") / col("n_eff").cast("double"), 4))
          .as("boot_mean"))
      .orderBy("lang", "rep")
  }

  /** 10% deterministic sample of documents, keyed on doc_id. */
  def detSample(s: SparkSession, d: String): DataFrame =
    Sampling.deterministic(Tables.documents(s, d), col("doc_id"), 0.10, salt = "s1")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  /** Stratified by lang: uneven per-language fractions (absent lang -> 0). */
  def strataSample(s: SparkSession, d: String): DataFrame =
    Sampling.stratified(Tables.documents(s, d), col("lang"),
        Map("en" -> 0.30, "de" -> 0.10, "fr" -> 0.05),
        col("doc_id"), salt = "s2")
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang")

  private val Splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Deterministic 80/10/10 train/val/test assignment: disjoint, exhaustive
    * hash-range partition; per-split doc counts + char volume.
    */
  def splitSample(s: SparkSession, d: String): DataFrame =
    Sampling.splitAssign(Tables.documents(s, d), col("doc_id"), Splits, salt = "s3")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("split")

  /** Leakage-safe (group-aware) split: the hash key is the SOURCE, not the
    * doc — every doc of a source lands in the same split by construction,
    * so same-origin correlation (boilerplate, near-dups, templated pages)
    * can never straddle train/test, which is exactly the leakage a
    * doc-keyed split invites. Same disjoint-exhaustive hash-range
    * partition as [[splitSample]]; per-split source and doc counts.
    * SamplingSpec pins the no-straddle invariant (each source in exactly
    * one split).
    */
  def groupedSplit(s: SparkSession, d: String): DataFrame =
    Sampling.splitAssign(Tables.documents(s, d), col("source"), Splits, salt = "g1")
      .groupBy("split")
      .agg(countDistinct("source").as("n_sources"),
           count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("split")

  /** CONTENT-level leakage-safe split — the complement of
    * [[groupedSplit]]'s origin keying: the split key is the text's md5,
    * so byte-identical duplicates can NEVER straddle train/test no matter
    * which sources carried them — exactly the eval contamination a
    * doc-keyed split invites whenever the corpus still holds exact dups
    * (and the form a cluster-keyed split takes once near-dup cluster ids
    * exist: same splitAssign, key = the DedupState comp id). Per split:
    * docs, distinct texts, and the duplicate surplus the no-straddle
    * property fences in. One hash projection + one aggregate; no join.
    */
  def dedupSplit(s: SparkSession, d: String): DataFrame =
    Sampling.splitAssign(Tables.documents(s, d), md5(col("text")), Splits,
        salt = "ds1")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(md5(col("text"))).as("n_texts"))
      .select(col("split"), col("n_docs"), col("n_texts"),
        (col("n_docs") - col("n_texts")).as("dup_docs"))
      .orderBy("split")

  /** Exact-size sample: the 40 smallest-hash docs per language — a fixed
    * per-source budget, identical on every run and engine.
    */
  def topkSample(s: SparkSession, d: String): DataFrame =
    Sampling.topKByHash(Tables.documents(s, d), col("lang"), col("doc_id"),
        k = 40, salt = "s4")
      .select("lang", "doc_id", "n_chars")
      .orderBy("lang", "doc_id")

  /** Weighted sample without replacement (Efraimidis–Spirakis), weight =
    * n_chars: longer docs proportionally likelier, every run and engine
    * picking the SAME 50 docs. The top-k by priority is a
    * TakeOrderedAndProject — per-partition top-k merged on the driver, no
    * global sort — so the selection is one narrow pass at any scale.
    */
  def weightedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("n_chars") > 0)
      .withColumn("__p", Sampling.esPriority(col("doc_id"), col("n_chars"), salt = "w1"))
      .orderBy(desc("__p"), asc("doc_id"))
      .limit(50)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  private val DsirBuckets = 256
  private val DsirK = 100
  private val DsirTarget = "src0"

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every doc by the
    * log-likelihood RATIO of two hashed-unigram bag-of-words models — one
    * fit on the target domain (source = src0, the in-corpus stand-in for
    * "text like the domain we want more of"), one on the raw corpus —
    * then select [[DsirK]] docs by Gumbel top-k on the score, which
    * samples WITHOUT replacement with probability ∝ the importance weight
    * (the Gumbel-max trick; [[Sampling.gumbel]] makes the draw
    * deterministic). This is the published importance-resampling recipe
    * for LLM pretraining-data selection, and the principled upgrade over
    * [[weightedSample]]'s length weights: the weight is LEARNED from a
    * target corpus, not hand-picked.
    *
    * Determinism across engines: token→bucket is the portable md5 hash
    * mod [[DsirBuckets]]; both models are Laplace-smoothed and each
    * bucket's log-prob is floor-quantized to integer MICRONATS before the
    * subtraction, so λ(bucket) and every per-doc Σ tf·λ are exact 64-bit
    * integers (the [[graft.operators.TextAnalysis.unigramLogprob]]
    * recipe). Only the final priority (score + Gumbel) is a double, and
    * both engines compute it from the same integers with the same op
    * sequence.
    *
    * Scale shape: the corpus is touched by exactly TWO map-side-combined
    * passes — the (doc, bucket) tf aggregation and the per-doc score —
    * plus the final k-row id join; the model relation is
    * [[DsirBuckets]]-sized and rides a broadcast join; target/raw counts
    * reduce the checkpointed tf frame, not the corpus; selection is a
    * per-partition top-k merged on the driver (TakeOrderedAndProject),
    * never a global sort. Nothing downstream of the tf frame scales with
    * corpus size except the two reductions themselves.
    */
  /** The hashed-unigram tf relation (doc_id, source, bucket, tf) for an
    * arbitrary documents frame, checkpointed — the probe featurizes only
    * its batch with exactly this builder.
    */
  private def dsirFeaturesRaw(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .select(col("doc_id"), col("source"),
        pmod(TextAnalysis.tokenHash(col("token")), lit(DsirBuckets.toLong)).as("bucket"))
      .groupBy("doc_id", "source", "bucket").agg(count(lit(1)).as("tf"))

  private def dsirFeatures(docs: DataFrame): DataFrame =
    dsirFeaturesRaw(docs).localCheckpoint(true)

  /** Full-corpus [[dsirFeatures]] frame, memoized under the bench's
    * cross-query memo flag (the DedupQueries.tokFrame contract): the
    * tokenize + per-token md5 + (doc, bucket) aggregation is the dominant
    * shared cost of `sample_dsir`, `sample_dsir_stored` and the stored-λ
    * build, and featurization is strictly per-document, so deriving the
    * corpus/batch sides by doc_id FILTER over the one checkpointed frame
    * is bit-identical to featurizing the filtered docs. This is the
    * amortization a rolling deployment gets from its persisted feature
    * relation. Verify leaves the flag off, so the correctness gate
    * featurizes from scratch per query.
    */
  private val dsirFeatMemo = Memo.entry[DataFrame]("dsirFeatures")

  /** Bench-artifact marker (the DedupQueries.pairsMemoStats contract). */
  def dsirMemoStats: String = Memo.stats(dsirFeatMemo)

  /** [[dsirFeatures]] of `documents` restricted to `pred` — per-query
    * build with the flag off, a filter over the shared corpus frame with
    * it on.
    */
  private def dsirFeaturesFor(s: SparkSession, d: String,
                              pred: Option[Column]): DataFrame =
    if (!Memo.share(s))
      dsirFeatures(pred.foldLeft(Tables.documents(s, d))(_.filter(_)))
    else {
      // Materialize.shared, not a bare checkpoint: AQE coalesces the tiny
      // (doc, bucket, tf) aggregate to 1-2 partitions by bytes and the
      // checkpoint FREEZES that layout for every consumer — the r12 memo
      // lesson, applied here in r13 (Profile: 0.6 s single-task λ/score
      // stages inside sample_dsir on a 32-core session)
      val full = dsirFeatMemo(s, d)(graft.operators.Materialize.shared(
        dsirFeaturesRaw(Tables.documents(s, d)), col("doc_id")))
      pred.foldLeft(full)(_.filter(_))
    }

  /** The λ model over the FULL bucket range (unseen buckets score as
    * smoothed out-of-vocabulary): raw and target counts in ONE
    * conditional-sum pass over the model-side tf frame, Laplace-smoothed
    * micronat log-ratio per bucket.
    */
  private def dsirLam(s: SparkSession, db: DataFrame): DataFrame = {
    val counts = db.groupBy("bucket").agg(
      sum("tf").as("rc"),
      sum(when(col("source") === DsirTarget, col("tf")).otherwise(0L)).as("tc"))
    val totals = counts.agg(sum("rc").as("rtot"), sum("tc").as("ttot"))
    val micronats = (p: Column) => floor(log(p) * lit(1e6)).cast("long")
    s.range(0, DsirBuckets).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        (micronats((coalesce(col("tc"), lit(0L)) + lit(1L)).cast("double")
            / (col("ttot").cast("double") + lit(DsirBuckets.toDouble)))
          - micronats((coalesce(col("rc"), lit(0L)) + lit(1L)).cast("double")
            / (col("rtot").cast("double") + lit(DsirBuckets.toDouble)))).as("lam"))
  }

  /** Gumbel-top-k selection of `k` docs by importance weight. */
  private def dsirPick(scored: DataFrame, docs: DataFrame, salt: String,
                       k: Int): DataFrame =
    scored
      .withColumn("__p", col("logw_micro").cast("double") / lit(1e6)
        + Sampling.gumbel(col("doc_id"), salt))
      .orderBy(desc("__p"), asc("doc_id"))
      .limit(k)
      .join(docs.select("doc_id", "lang", "source"), Seq("doc_id"))
      .select("doc_id", "lang", "source", "logw_micro")
      .orderBy("doc_id")

  def dsirSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val db = dsirFeaturesFor(s, d, None)
    val scored = db.join(broadcast(dsirLam(s, db)), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("lam")).as("logw_micro"))
    dsirPick(scored, docs, "dsir", DsirK)
  }

  private val DsirStoredK = 50

  /** The stored DSIR model: λ trained on the STANDING corpus
    * (doc_id < the shared 4/5 boundary) persisted as a catalog table —
    * built once per (session, dir), then only read.
    */
  private val dsirStateMemo = Memo.entry[String]("dsirState")

  private[graft] def dsirState(s: SparkSession, d: String): String =
    dsirStateMemo(s, d) {
      val tbl = graft.operators.AggState.name("graft_dsirlam", d).parts
      val corpusFeats = dsirFeaturesFor(s, d,
        Some(col("doc_id") < DedupQueries.splitId(s, d)))
      graft.operators.Layout.writeBucketed(
        dsirLam(s, corpusFeats), "bucket", tbl, 4)
      tbl
    }

  /** Incoming-batch DSIR selection against the STORED λ model
    * ([[dsirState]]) — the data-selection sibling of the stored
    * classifier probe: per epoch the engine featurizes ONLY the batch,
    * reads the 256-row model table, and draws the batch's Gumbel top-k
    * by frozen importance weight. Unseen buckets hit the model's
    * smoothed OOV rows (λ is defined on the full bucket range), so no
    * batch token can fall off the model. The oracle replays model
    * fitting on the standing corpus and scores the batch — frozen-model
    * selection ≡ fit-then-select, stated as SQL.
    */
  def dsirStored(s: SparkSession, d: String): DataFrame = {
    val tbl = dsirState(s, d)
    val docs = Tables.documents(s, d)
    val scored = dsirFeaturesFor(s, d,
        Some(col("doc_id") >= DedupQueries.splitId(s, d)))
      .join(broadcast(s.table(tbl)), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("lam")).as("logw_micro"))
    dsirPick(scored, docs, "dsirs", DsirStoredK)
  }

  /** Per-group weighted sample without replacement: the 10 highest
    * A-ES-priority docs per LANGUAGE (weight = n_chars) — fixed
    * per-language budgets drawn with the weighted rule, the grouped form
    * of [[weightedSample]] (and the weighted form of [[topkSample]]).
    * One window pass partitioned by the group key; no global sort.
    */
  def weightedGrouped(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .filter(col("n_chars") > 0)
      .withColumn("__p", Sampling.esPriority(col("doc_id"), col("n_chars"), salt = "wg1"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("lang").orderBy(desc("__p"), asc("doc_id"))))
      .filter(col("__rk") <= 10)
      .select("lang", "doc_id", "n_chars")
      .orderBy("lang", "doc_id")
  }

  private val DiversePerCell = 20

  /** Cluster-balanced DIVERSITY sampling over the embedding space — the
    * cluster-then-sample move of semantic-coverage curation (the
    * SemDeDup/DataComp-style complement to density-following samplers
    * like [[dsirSample]]): k-means cells partition the corpus
    * semantically, and every cell contributes the SAME
    * [[DiversePerCell]]-doc budget in deterministic hash order — so the
    * sample covers the embedding space instead of mirroring its density,
    * and a dominant topic cannot crowd the mix. Reuses the shared
    * deterministic k-means (seeds = first 5 vectors, 2 rounds, round-6dp
    * re-sync — the `sim_kmeans`/`dedup_semantic` machinery and its
    * factored oracle chain, so the three queries cannot cluster
    * differently).
    *
    * Scale shape: assignment is a narrow literal-centroid projection
    * (no join, no shuffle); selection is one window pass partitioned by
    * cell ([[weightedGrouped]]'s shape) — per-cell budgets never need a
    * global sort. Determinism: hash order within a cell, vec_id
    * tie-break.
    */
  def diverseSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(s)
    val vecs = graft.operators.Similarity.prepared(Tables.embeddings(s, d))
      .select("vec_id", "v")
    val cents = SimilarityQueries.kmeans5x2(s, d)
    graft.operators.Similarity.kmeansAssign(vecs, cents)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .withColumn("__hk", Sampling.hash60(col("vec_id"), "div1"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("cluster").orderBy(asc("__hk"), asc("vec_id"))).cast("long"))
      .filter(col("rnk") <= DiversePerCell)
      .select("cluster", "rnk", "vec_id")
      .orderBy("cluster", "rnk")
  }

  private val MatchShare = 0.10

  /** Distribution matching via per-stratum rejection — reshape the corpus
    * LENGTH histogram toward a uniform target (share [[MatchShare]] per
    * 100-char bin, capped at bin 9): each bin's acceptance rate is
    * min(1, target·N/n_bin), realized by deterministic hash membership.
    * The curation move behind "rebalance the length/quality/domain mix
    * without upsampling": over-represented bins thin to the target,
    * under-represented bins clip at rate 1 and surface their deficit
    * (you cannot upsample by rejection — [[mixPlan]]'s clip rule, here
    * EXECUTED rather than planned, with the rate derived from the data
    * inside the query). Per bin: population, the EXACT integer hash
    * threshold the rate compiles to, kept count, and the achieved share
    * in integer micro-units ((n_kept·1e6) div total — no float share to
    * round). Determinism: the only doubles are the rate expression both
    * engines build from the same integers; the threshold floor lands in
    * integer space before any row is tested.
    *
    * Scale shape: one corpus pass for the histogram, one for the
    * filtered recount; rates ride a broadcast bin relation (≤ 10 rows).
    */
  def matchDist(s: SparkSession, d: String): DataFrame = {
    val binned = Tables.documents(s, d)
      .select(col("doc_id"), expr("least(n_chars div 100, 9)").as("bin"))
    val perBin = binned.groupBy("bin").agg(count(lit(1)).as("n_docs"))
    val total = binned.agg(count(lit(1)).as("n_total"))
    val rates = perBin.crossJoin(broadcast(total))
      .select(col("bin"), col("n_docs"),
        floor(least(lit(1.0), lit(MatchShare) * col("n_total").cast("double")
            / col("n_docs").cast("double")) * lit(Sampling.hashSpaceDouble))
          .cast("long").as("thresh"))
    val kept = binned.join(broadcast(rates), Seq("bin"))
      .filter(Sampling.hash60(col("doc_id"), "md1") < col("thresh"))
      .groupBy("bin").agg(count(lit(1)).as("n_kept"))
    val withKept = rates.join(kept, Seq("bin"), "left")
      .select(col("bin"), col("n_docs"), col("thresh"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    val keptTotal = withKept.agg(sum("n_kept").as("kt"))
    withKept.crossJoin(broadcast(keptTotal))
      .select(col("bin"), col("n_docs"), col("thresh"), col("n_kept"),
        when(col("kt") > 0, expr("(n_kept * 1000000) div kt"))
          .otherwise(lit(0L)).as("share_micro"))
      .orderBy("bin")
  }

  private val Targets = Seq("en" -> 0.50, "de" -> 0.20, "fr" -> 0.15,
                            "es" -> 0.10, "it" -> 0.05)

  /** Data-mixing plan: given target corpus shares per language, derive each
    * language's deterministic sampling rate min(1, target·N/n) and the doc
    * count that rate yields — the planning step before [[Sampling
    * .deterministic]] executes the mix. Rates that clip at 1 reveal
    * under-represented sources (you cannot upsample by Bernoulli thinning).
    */
  def mixPlan(s: SparkSession, d: String): DataFrame = {
    val targets = map(Targets.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val perLang = Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n_total"))
    perLang.crossJoin(broadcast(total))
      .withColumn("target_share", coalesce(try_element_at(targets, col("lang")), lit(0.0)))
      .withColumn("rate", least(lit(1.0),
        col("target_share") * col("n_total").cast("double") / col("n_docs").cast("double")))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total").cast("double"), 4)
          .as("natural_share"),
        col("target_share"),
        round(col("rate"), 4).as("rate"),
        floor(col("rate") * col("n_docs").cast("double")).cast("long").as("planned_docs"))
      .orderBy("lang")
  }

  private val Alpha = 0.3

  /** Temperature-scaled language mixing plan (the mT5/XLM-R balancing
    * rule): sampling weight per language ∝ (natural share)^α with α < 1,
    * boosting low-resource languages relative to their natural share. The
    * plan reports, per language, the temperature share and the Bernoulli
    * rate that realizes it (clipped at 1 — hash thinning cannot
    * upsample). Determinism across engines: the single per-row `pow` is
    * quantized to integer nano-units BEFORE the cross-language
    * normalization sum, so the denominator is an exact integer sum and no
    * float-addition-order can drift between Spark and the oracle.
    *
    * Scale shape: everything after the one corpus-sized groupBy(lang) runs
    * on the language relation (dozens of rows); the two-level aggregate is
    * a broadcast crossJoin, never a shuffle of the corpus.
    */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val perLang = Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n_total"))
    val weighted = perLang.crossJoin(broadcast(total))
      .withColumn("__w", floor(
        pow(col("n_docs").cast("double") / col("n_total").cast("double"), Alpha)
          * 1e9).cast("long"))
    val denom = weighted.agg(sum(col("__w")).as("__wsum"))
    weighted.crossJoin(broadcast(denom))
      .withColumn("temp_share",
        round(col("__w").cast("double") / col("__wsum").cast("double"), 4))
      .withColumn("rate", least(lit(1.0),
        col("__w").cast("double") / col("__wsum").cast("double")
          * col("n_total").cast("double") / col("n_docs").cast("double")))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total").cast("double"), 4)
          .as("natural_share"),
        col("temp_share"),
        round(col("rate"), 4).as("rate"),
        floor(col("rate") * col("n_docs").cast("double")).cast("long").as("planned_docs"))
      .orderBy("lang")
  }

  private val MaxEpochs = 4L

  /** Data-constrained epoch plan — the repeat-budgeting step of corpus
    * assembly (the "data-constrained scaling" rule: when a language's
    * temperature-share target exceeds its available tokens, REPEAT its
    * data, but cap at [[MaxEpochs]] passes because repeated-epoch value
    * decays): per language, available tokens, the target allocation of a
    * half-natural-size token budget under the [[Alpha]] temperature
    * shares, the epoch factor that realizes it (centi-epochs; < 100 means
    * subsample, > 100 means repeat, capped at 400), the effective tokens
    * actually deliverable under the cap, and the irrecoverable deficit.
    *
    * Determinism: shares are nano-quantized before the normalization sum
    * (the [[temperatureMix]] recipe); the target is ⌊share·budget⌋ on the
    * exact same doubles in both engines; epoch factor and effective/
    * deficit are pure BIGINT arithmetic (integer ceil via
    * (target·100 + avail − 1) div avail). All output columns besides
    * `lang` are BIGINT — nothing to drift.
    *
    * Scale shape: per-doc token counts are a narrow size(filter(split))
    * projection (no explode), then one map-side-combined groupBy(lang);
    * everything after runs on the language relation.
    */
  def epochPlan(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("lang"),
      size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("ntok"))
    val perLang = toks.groupBy("lang").agg(sum("ntok").as("avail"))
    val total = perLang.agg(sum("avail").as("tot"))
    val weighted = perLang.crossJoin(broadcast(total))
      .withColumn("__w", floor(
        pow(col("avail").cast("double") / col("tot").cast("double"), Alpha)
          * 1e9).cast("long"))
    val denom = weighted.agg(sum(col("__w")).as("__wsum"))
    weighted.crossJoin(broadcast(denom))
      .withColumn("budget", expr("tot div 2"))
      .withColumn("target", floor(
        (col("__w").cast("double") / col("__wsum").cast("double"))
          * col("budget").cast("double")).cast("long"))
      // avail = 0 (a language whose docs are all empty text) must not hit
      // the ceil-division: Spark `div` would yield NULL where DuckDB `//`
      // raises Division-by-Zero — a silent engine divergence. Zero tokens
      // available means zero epochs, stated explicitly in BOTH engines.
      .withColumn("epochs_centi", when(col("avail") > 0,
        least(lit(100L * MaxEpochs),
          expr("(target * 100 + avail - 1) div avail"))).otherwise(lit(0L)))
      .withColumn("effective", least(col("target"), col("avail") * MaxEpochs))
      .select(col("lang"), col("avail"), col("target"), col("epochs_centi"),
        col("effective"),
        greatest(lit(0L), col("target") - col("effective")).as("deficit"))
      .orderBy("lang")
  }

  private val Shards = 8L

  /** Deterministic global shuffle + sharding — the "shuffle and shard"
    * step that fixes a training corpus's read order: every doc gets a
    * pseudo-random but reproducible coordinate (hash60 of its id), a shard
    * (hash mod #shards), and a position within its shard (rank by hash).
    * Reruns, backfills, and both engines produce the identical order —
    * `rand()`-based shuffles can't survive a task retry, let alone an
    * engine swap.
    *
    * Scale shape: the position window is PARTITIONED by shard, and a real
    * deployment sizes #shards so one shard ≈ one output file (10⁴–10⁵
    * shards at 100 TB) — each window task sorts file-sized slices, and the
    * physical write is `repartition(shard).sortWithinPartitions(hash)`,
    * one exchange end to end. No global sort anywhere.
    */
  def shuffleShard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Sampling.hash60(col("doc_id"), "sh1")
    Tables.documents(s, d)
      .withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(Shards)))
      .withColumn("pos", row_number()
        .over(Window.partitionBy("shard").orderBy("__h", "doc_id")).cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos", "doc_id")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_mix_plan" -> (mixPlan _),
    "sample_temperature" -> (temperatureMix _),
    "sample_epochs" -> (epochPlan _),
    "sample_shuffle_shard" -> (shuffleShard _),
    "sample_bootstrap" -> (bootstrap _),
    "sample_det" -> (detSample _),
    "sample_strata" -> (strataSample _),
    "sample_split" -> (splitSample _),
    "sample_split_grouped" -> (groupedSplit _),
    "sample_split_dedup" -> (dedupSplit _),
    "sample_topk" -> (topkSample _),
    "sample_weighted" -> (weightedSample _),
    "sample_dsir" -> (dsirSample _),
    "sample_match_dist" -> (matchDist _),
    "sample_weighted_grouped" -> (weightedGrouped _),
    "sample_dsir_stored" -> (dsirStored _),
    "sample_diverse" -> (diverseSample _),
  )

  private def h60(salt: String, key: String): String =
    s"CAST('0x' || substring(md5('$salt:' || CAST($key AS VARCHAR)), 1, 15) AS BIGINT)"

  /** The Gumbel draw's u as SQL: the midpoint (2h+1)/2^61, strictly inside
    * (0,1) so both ln calls are total. 2^61 stated as an exact decimal
    * literal — both engines convert it to the identical double
    * (scientific-notation reprs risk a detour through DECIMAL parsing).
    */
  private def gumbelSql(salt: String): String =
    s"CAST(${h60(salt, "doc_id")} * 2 + 1 AS DOUBLE) / 2305843009213693952.0"

  /** The DSIR model chain in DuckDB: hashed-unigram tf per doc (`b`, ALL
    * docs), model counts over the MODEL-SIDE rows only (`modelPred`),
    * Laplace-smoothed micronat log-ratio λ on the FULL bucket range
    * (unseen buckets score as smoothed OOV) — shared by `sample_dsir`
    * (model = everything) and `sample_dsir_stored` (model = the standing
    * corpus), so the two cannot fit different models.
    */
  private def dsirChainSql(modelPred: String): String = {
    val B = DsirBuckets
    s"""tok AS (
       |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, source,
       |    CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) % $B AS bucket,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM tok WHERE token <> '' GROUP BY doc_id, source, bucket),
       |bt AS (SELECT * FROM b WHERE $modelPred),
       |cnt AS (
       |  SELECT bucket, CAST(sum(tf) AS BIGINT) AS rc,
       |    CAST(sum(CASE WHEN source = '$DsirTarget' THEN tf ELSE 0 END) AS BIGINT) AS tc
       |  FROM bt GROUP BY bucket),
       |tot AS (SELECT CAST(sum(rc) AS BIGINT) AS rtot,
       |               CAST(sum(tc) AS BIGINT) AS ttot FROM cnt),
       |lam AS (
       |  SELECT CAST(r.r AS BIGINT) AS bucket,
       |    CAST(floor(ln(CAST(coalesce(cnt.tc, 0) + 1 AS DOUBLE)
       |                  / (CAST(tot.ttot AS DOUBLE) + $B.0)) * 1e6) AS BIGINT)
       |    - CAST(floor(ln(CAST(coalesce(cnt.rc, 0) + 1 AS DOUBLE)
       |                  / (CAST(tot.rtot AS DOUBLE) + $B.0)) * 1e6) AS BIGINT) AS lam
       |  FROM range(0, $B) r(r) LEFT JOIN cnt ON r.r = cnt.bucket, tot)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "sample_mix_plan" -> {
      val caseExpr = Targets.map { case (k, v) => s"WHEN '$k' THEN $v" }
        .mkString("CASE lang ", " ", " ELSE 0.0 END")
      s"""WITH p AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
         |           FROM documents GROUP BY lang),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
         |r AS (
         |  SELECT p.lang, p.n_docs, t.n_total,
         |    CAST($caseExpr AS DOUBLE) AS target_share,
         |    least(1.0, CAST($caseExpr AS DOUBLE) * CAST(t.n_total AS DOUBLE)
         |                / CAST(p.n_docs AS DOUBLE)) AS rate
         |  FROM p, t)
         |SELECT lang, n_docs,
         |  round(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 4) AS natural_share,
         |  target_share, round(rate, 4) AS rate,
         |  CAST(floor(rate * CAST(n_docs AS DOUBLE)) AS BIGINT) AS planned_docs
         |FROM r ORDER BY lang""".stripMargin
    },
    "sample_epochs" ->
      s"""WITH t AS (
         |  SELECT lang,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
         |      AS ntok
         |  FROM documents),
         |p AS (SELECT lang, CAST(sum(ntok) AS BIGINT) AS avail FROM t GROUP BY lang),
         |tt AS (SELECT CAST(sum(avail) AS BIGINT) AS tot FROM p),
         |w AS (
         |  SELECT p.lang, p.avail, tt.tot,
         |    CAST(floor(pow(CAST(p.avail AS DOUBLE) / CAST(tt.tot AS DOUBLE),
         |                   $Alpha) * 1e9) AS BIGINT) AS w
         |  FROM p, tt),
         |r AS (
         |  SELECT lang, avail, tot, w,
         |    CAST(sum(w) OVER () AS BIGINT) AS wsum
         |  FROM w),
         |x AS (
         |  SELECT lang, avail, tot // 2 AS budget,
         |    CAST(floor((CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE))
         |               * CAST(tot // 2 AS DOUBLE)) AS BIGINT) AS target
         |  FROM r),
         |y AS (
         |  SELECT lang, avail, target,
         |    CASE WHEN avail > 0 THEN
         |      least(CAST(${100L * MaxEpochs} AS BIGINT),
         |            (target * 100 + avail - 1) // avail)
         |    ELSE CAST(0 AS BIGINT) END AS epochs_centi,
         |    least(target, avail * $MaxEpochs) AS effective
         |  FROM x)
         |SELECT lang, avail, target, epochs_centi, effective,
         |  greatest(CAST(0 AS BIGINT), target - effective) AS deficit
         |FROM y ORDER BY lang""".stripMargin,
    "sample_temperature" ->
      s"""WITH p AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
         |           FROM documents GROUP BY lang),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
         |w AS (
         |  SELECT p.lang, p.n_docs, t.n_total,
         |    CAST(floor(pow(CAST(p.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE),
         |                   $Alpha) * 1e9) AS BIGINT) AS w
         |  FROM p, t),
         |r AS (
         |  SELECT lang, n_docs, n_total, w,
         |    CAST(sum(w) OVER () AS BIGINT) AS wsum
         |  FROM w)
         |SELECT lang, n_docs,
         |  round(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 4) AS natural_share,
         |  round(CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE), 4) AS temp_share,
         |  round(least(1.0, CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE)
         |                   * CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE)),
         |        4) AS rate,
         |  CAST(floor(least(1.0, CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE)
         |                        * CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |             * CAST(n_docs AS DOUBLE)) AS BIGINT) AS planned_docs
         |FROM r ORDER BY lang""".stripMargin,
    "sample_shuffle_shard" ->
      s"""SELECT doc_id, shard, pos FROM (
         |  SELECT doc_id,
         |    ${h60("sh1", "doc_id")} % $Shards AS shard,
         |    CAST(row_number() OVER (
         |      PARTITION BY ${h60("sh1", "doc_id")} % $Shards
         |      ORDER BY ${h60("sh1", "doc_id")}, doc_id) AS BIGINT) AS pos
         |  FROM documents) t
         |ORDER BY shard, pos, doc_id""".stripMargin,
    "sample_bootstrap" -> {
      val reps = (0 to 2).map { r =>
        s"SELECT lang, n_chars, CAST($r AS BIGINT) AS rep, " +
          s"CAST(${Sampling.poissonMultiplicitySql("doc_id", s"boot$r")} AS BIGINT) AS m FROM documents"
      }.mkString("\n  UNION ALL ")
      s"""WITH u AS (
         |  $reps)
         |SELECT lang, rep, CAST(sum(m) AS BIGINT) AS n_eff,
         |  CAST(sum(m * n_chars) AS BIGINT) AS sum_chars,
         |  CASE WHEN sum(m) > 0
         |       THEN round(CAST(sum(m * n_chars) AS DOUBLE) / CAST(sum(m) AS DOUBLE), 4)
         |  END AS boot_mean
         |FROM u GROUP BY lang, rep ORDER BY lang, rep""".stripMargin
    },
    "sample_det" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ${h60("s1", "doc_id")} < ${Sampling.threshold(0.10)}
         |ORDER BY doc_id""".stripMargin,
    "sample_strata" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
         |WHERE ${h60("s2", "doc_id")} <
         |  CASE lang WHEN 'en' THEN ${Sampling.threshold(0.30)}
         |            WHEN 'de' THEN ${Sampling.threshold(0.10)}
         |            WHEN 'fr' THEN ${Sampling.threshold(0.05)}
         |            ELSE 0 END
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "sample_split" -> {
      val Seq(("train", tTrain), ("val", tVal), _) = Sampling.splitBounds(Splits)
      s"""SELECT CASE WHEN ${h60("s3", "doc_id")} < $tTrain THEN 'train'
         |            WHEN ${h60("s3", "doc_id")} < $tVal THEN 'val'
         |            ELSE 'test' END AS split,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
    },
    "sample_split_grouped" -> {
      val Seq(("train", tTrain), ("val", tVal), _) = Sampling.splitBounds(Splits)
      s"""SELECT CASE WHEN ${h60("g1", "source")} < $tTrain THEN 'train'
         |            WHEN ${h60("g1", "source")} < $tVal THEN 'val'
         |            ELSE 'test' END AS split,
         |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
    },
    "sample_split_dedup" -> {
      val Seq(("train", tTrain), ("val", tVal), _) = Sampling.splitBounds(Splits)
      s"""WITH h AS (SELECT md5(text) AS th FROM documents)
         |SELECT CASE WHEN ${h60("ds1", "th")} < $tTrain THEN 'train'
         |            WHEN ${h60("ds1", "th")} < $tVal THEN 'val'
         |            ELSE 'test' END AS split,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT th) AS BIGINT) AS n_texts,
         |       CAST(count(*) - count(DISTINCT th) AS BIGINT) AS dup_docs
         |FROM h GROUP BY 1 ORDER BY split""".stripMargin
    },
    "sample_weighted" ->
      s"""SELECT doc_id, lang, n_chars FROM (
         |  SELECT doc_id, lang, n_chars,
         |    row_number() OVER (
         |      ORDER BY ln(CAST(${h60("w1", "doc_id")} + 1 AS DOUBLE)
         |                  / 1152921504606846976.0)
         |               / CAST(n_chars AS DOUBLE) DESC, doc_id ASC) AS rk
         |  FROM documents WHERE n_chars > 0) t
         |WHERE rk <= 50 ORDER BY doc_id""".stripMargin,
    "sample_diverse" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |seed AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv FROM e WHERE vec_id < 5),
         |${SimilarityQueries.duckKmRound("seed", 1)},
         |${SimilarityQueries.duckKmRound("u1", 2)},
         |${SimilarityQueries.duckKmAssign("u2", 3)},
         |h AS (SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
         |        ${h60("div1", "vec_id")} AS hk
         |      FROM a3),
         |r AS (SELECT cluster, vec_id,
         |        CAST(row_number() OVER (PARTITION BY cluster
         |          ORDER BY hk ASC, vec_id ASC) AS BIGINT) AS rnk
         |      FROM h)
         |SELECT cluster, rnk, vec_id FROM r WHERE rnk <= $DiversePerCell
         |ORDER BY cluster, rnk""".stripMargin,
    "sample_weighted_grouped" ->
      s"""SELECT lang, doc_id, n_chars FROM (
         |  SELECT lang, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ln(CAST(${h60("wg1", "doc_id")} + 1 AS DOUBLE)
         |                  / 1152921504606846976.0)
         |               / CAST(n_chars AS DOUBLE) DESC, doc_id ASC) AS rk
         |  FROM documents WHERE n_chars > 0) t
         |WHERE rk <= 10 ORDER BY lang, doc_id""".stripMargin,
    "sample_match_dist" ->
      s"""WITH b AS (
         |  SELECT doc_id, least(n_chars // 100, 9) AS bin FROM documents),
         |p AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs FROM b GROUP BY bin),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b),
         |r AS (
         |  SELECT p.bin, p.n_docs,
         |    CAST(floor(least(1.0, CAST($MatchShare AS DOUBLE)
         |                          * CAST(t.n_total AS DOUBLE)
         |                          / CAST(p.n_docs AS DOUBLE))
         |               * 1152921504606846976.0) AS BIGINT) AS thresh
         |  FROM p, t),
         |k AS (
         |  SELECT b.bin, CAST(count(*) AS BIGINT) AS n_kept
         |  FROM b JOIN r ON b.bin = r.bin
         |  WHERE ${h60("md1", "doc_id")} < r.thresh
         |  GROUP BY b.bin),
         |w AS (
         |  SELECT r.bin, r.n_docs, r.thresh,
         |    CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
         |  FROM r LEFT JOIN k ON r.bin = k.bin),
         |kt AS (SELECT CAST(sum(n_kept) AS BIGINT) AS kt FROM w)
         |SELECT w.bin, w.n_docs, w.thresh, w.n_kept,
         |  CASE WHEN kt.kt > 0 THEN (w.n_kept * 1000000) // kt.kt
         |       ELSE 0 END AS share_micro
         |FROM w, kt ORDER BY w.bin""".stripMargin,
    "sample_dsir" -> {
      s"""WITH ${dsirChainSql(modelPred = "TRUE")},
         |w AS (
         |  SELECT b.doc_id, CAST(sum(b.tf * lam.lam) AS BIGINT) AS logw_micro
         |  FROM b JOIN lam USING (bucket) GROUP BY b.doc_id),
         |pick AS (
         |  SELECT doc_id, logw_micro,
         |    row_number() OVER (
         |      ORDER BY CAST(logw_micro AS DOUBLE) / 1e6
         |               + (- ln(- ln(${gumbelSql("dsir")}))) DESC,
         |               doc_id ASC) AS rk
         |  FROM w)
         |SELECT p.doc_id, d.lang, d.source, p.logw_micro
         |FROM pick p JOIN documents d USING (doc_id)
         |WHERE p.rk <= $DsirK ORDER BY p.doc_id""".stripMargin
    },
    "sample_dsir_stored" -> {
      s"""WITH ${dsirChainSql(modelPred = s"doc_id < ${DedupQueries.splitSql}")},
         |bs AS (SELECT * FROM b WHERE doc_id >= ${DedupQueries.splitSql}),
         |w AS (
         |  SELECT bs.doc_id, CAST(sum(bs.tf * lam.lam) AS BIGINT) AS logw_micro
         |  FROM bs JOIN lam USING (bucket) GROUP BY bs.doc_id),
         |pick AS (
         |  SELECT doc_id, logw_micro,
         |    row_number() OVER (
         |      ORDER BY CAST(logw_micro AS DOUBLE) / 1e6
         |               + (- ln(- ln(${gumbelSql("dsirs")}))) DESC,
         |               doc_id ASC) AS rk
         |  FROM w)
         |SELECT p.doc_id, d.lang, d.source, p.logw_micro
         |FROM pick p JOIN documents d USING (doc_id)
         |WHERE p.rk <= $DsirStoredK ORDER BY p.doc_id""".stripMargin
    },
    "sample_topk" ->
      s"""SELECT lang, doc_id, n_chars FROM (
         |  SELECT lang, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h60("s4", "doc_id")}, doc_id) AS rk
         |  FROM documents) t
         |WHERE rk <= 40 ORDER BY lang, doc_id""".stripMargin,
  )
}
