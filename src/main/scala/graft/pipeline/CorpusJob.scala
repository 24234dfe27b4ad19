package graft.pipeline

import graft.Tables
import graft.functions.Bloom
import graft.operators.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation — the LLM-data sibling of
  * [[TrendsJob]], runnable with
  * `spark-submit --class graft.pipeline.CorpusJob ... --input <sfDir> --out <dir>`.
  *
  * Stage order follows cost: cheap exact/per-row screens first so the
  * expensive near-dup machinery sees the smallest possible corpus.
  *
  *  1. exact dedup — keep the min-doc_id representative per md5(text);
  *  1b. bag-of-words dedup — keep the min-doc_id representative per
  *     sorted-token-multiset hash (reordered-content duplicates);
  *  2. near-dup dedup — 60-bit SimHash, pigeonhole-banded candidate pairs
  *     at Hamming ≤ 3, connected components, keep each cluster's minimum
  *     (the cheapest near-dup pass; MinHash+jaccard is the heavier
  *     second-line tool, available as [[graft.queries.DedupQueries]]);
  *  3. decontamination — drop training docs whose exact text hash appears
  *     in the eval blocklist (doc_id % 10 = 0), bloom-prefiltered so only
  *     probe hits pay the anti-join;
  *  3a. fuzzy decontamination (in the shared release tail, on by
  *     default) — drop training docs whose token set is a MinHash-banded
  *     near-duplicate (exact Jaccard ≥ 0.7) of any ORIGINAL eval doc
  *     ([[graft.operators.Dedup.fuzzyContaminatedIds]]): signatures are
  *     a per-row map over each doc's distinct token set, train × eval
  *     band candidates are verified by one set intersection per pair, so
  *     the tier shuffles band rows and candidates, never the corpus's
  *     (doc, token) rows. The opt-in media tier (3a' —
  *     `--media-decontam`) drops docs whose media fingerprint near-dups an
  *     eval doc's;
  *  3b. substring-span cut — delete every later copy of a cross-doc
  *     duplicated 8-token span ([[graft.operators.Dedup.spanCut]]): docs
  *     survive, redundant tokens don't;
  *  4. quality screens — minimum token count and distinct-token ratio
  *     (the Gopher-style repetition gate);
  *  4a. corpus-LM screen — unigram avg log-prob fit on the survivors,
  *     corpus-atypical docs below `--min-avg-logp` dropped (the
  *     CCNet-perplexity-filter stand-in);
  *  4b. language-mix sampling — per-language deterministic down-sampling
  *     to the configured target shares (the sample_mix_plan rates);
  *  4c. context-window packing — each doc is assigned its (lang, bin)
  *     2048-token context-window bin (the text_pack_bins rule);
  *  5. deterministic split — disjoint, exhaustive train/val/test hash
  *     ranges, stable across reruns and engines;
  *  6. idempotent write — a STATIC overwrite of the whole output path
  *     partitioned by split: one curation is one atomic corpus, and a
  *     re-run with different screens must not leave stale split
  *     directories behind (dynamic per-partition overwrite would).
  *
  * Every stage count is reported in one JSON line (the funnel a data-lead
  * actually reviews); the returned frame is the curated corpus.
  *
  * Checkpoints, and who reads them. Each active stage's output is one
  * eager `localCheckpoint`, and its funnel count is an `Observation` on
  * that checkpoint's own job ([[StageStore.observed]]), so a count costs
  * no job. Their readers:
  *  - exact, bow: the next stage's key aggregate and its semi-join;
  *  - near: both branches of the Bloom decontamination split;
  *  - clean0 (the tail's input): the fuzzy tier's train side and its
  *    anti-join;
  *  - fuzzy/mm: the span cut's winnowing and its left join;
  *  - spancut: the screens only — one reader; it stays as the resume
  *    boundary that carries the span-cut count;
  *  - screened: the LM fit and its join back; quality: the budget
  *    stage's features, token weights and keep join;
  *  - budget's inner `feats` (every training round, then scoring) and
  *    `scored` (the selection's bounds and histogram passes, the tie
  *    prefix sum, the keep set);
  *  - budget, mixed, diverse: the next stage's rates/keys and its sample,
  *    or the packing's two prefix-sum phases.
  * With a resume dir a sealed stage is read back from parquet instead and
  * its count is taken over the read-back.
  */
object CorpusJob {

  /** `mix` are per-language TARGET corpus shares (the sample_mix_plan
    * contract): language L is down-sampled at rate
    * min(1, share_L · total / n_L); languages absent from the map are
    * dropped. Empty map = no mix stage. `binTokens` is the context-window
    * packing budget.
    */
  final case class Config(
      input: String = "",
      out: String = "",
      minTokens: Int = 10,
      minDistinctRatio: Double = 0.3,
      minAvgLogp: Double = -10.0,
      salt: String = "corpus-v1",
      mix: Map[String, Double] = Map(
        "en" -> 0.50, "de" -> 0.20, "fr" -> 0.15, "es" -> 0.10, "it" -> 0.05),
      binTokens: Long = 2048L,
      spanState: Boolean = false,
      // the round-8 curation-ladder stages, composed (round 9):
      // fuzzy near-dup decontamination ON by default; the trained-
      // classifier token-budget cut keeps the best `budgetShare` of
      // surviving tokens (1.0 = off); cluster-balanced diversity capping
      // needs a document-embedding table, so it is opt-in
      fuzzyDecontam: Boolean = true,
      // media decontamination (round 10): drop training docs whose derived
      // media fingerprint (60-bit aHash) sits within Hamming 3 of any eval
      // doc's — the mm_decontam tier composed. Opt-in: it decodes the
      // media column, which only exists for corpora that carry one
      mediaDecontam: Boolean = false,
      budgetShare: Double = 0.9,
      // the classifier's "trusted domain" positive label. NOT src0: the
      // fixture's src0 rows are exactly the eval split (source = src(id %
      // 20)), so after decontamination the positive class would be empty
      // and training fails loudly
      clfTarget: String = "src1",
      diversePerCell: Int = 0,
      embeddingsDir: String = "",
      // stage-boundary resume ([[StageStore]]): when set, each curation
      // stage persists its output under this durable dir and a re-run
      // resumes from the first unsealed stage instead of recomputing the
      // whole ladder
      resumeDir: String = "")

  def parse(args: Array[String]): Config = {
    def parseMix(v: String): Map[String, Double] =
      if (v.isEmpty) Map.empty
      else v.split(",").map { kv =>
        // explicit validation: a bare "en" or "en:0.5:x" must surface as
        // the parser's usage-message contract (IllegalArgumentException),
        // not a MatchError/NumberFormatException from the destructure
        kv.split(":") match {
          case Array(k, f) if k.nonEmpty =>
            val share = try f.toDouble catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"--mix entry '$kv': share '$f' is not a number; expected lang:share,...")
            }
            k -> share
          case _ => throw new IllegalArgumentException(
            s"--mix entry '$kv' malformed; expected lang:share,...")
        }
      }.toMap
    def loop(rest: List[String], cfg: Config): Config = rest match {
      case "--input" :: v :: t       => loop(t, cfg.copy(input = v))
      case "--out" :: v :: t         => loop(t, cfg.copy(out = v))
      case "--min-tokens" :: v :: t  => loop(t, cfg.copy(minTokens = v.toInt))
      case "--min-distinct-ratio" :: v :: t =>
        loop(t, cfg.copy(minDistinctRatio = v.toDouble))
      case "--min-avg-logp" :: v :: t =>
        loop(t, cfg.copy(minAvgLogp = v.toDouble))
      case "--salt" :: v :: t        => loop(t, cfg.copy(salt = v))
      case "--mix" :: v :: t         => loop(t, cfg.copy(mix = parseMix(v)))
      case "--bin-tokens" :: v :: t  => loop(t, cfg.copy(binTokens = v.toLong))
      case "--span-state" :: t       => loop(t, cfg.copy(spanState = true))
      case "--no-fuzzy-decontam" :: t => loop(t, cfg.copy(fuzzyDecontam = false))
      case "--media-decontam" :: t   => loop(t, cfg.copy(mediaDecontam = true))
      case "--budget-share" :: v :: t => loop(t, cfg.copy(budgetShare = v.toDouble))
      case "--clf-target" :: v :: t  => loop(t, cfg.copy(clfTarget = v))
      case "--diverse-per-cell" :: v :: t =>
        loop(t, cfg.copy(diversePerCell = v.toInt))
      case "--embeddings" :: v :: t  => loop(t, cfg.copy(embeddingsDir = v))
      case "--resume-dir" :: v :: t  => loop(t, cfg.copy(resumeDir = v))
      case Nil                       => cfg
      case bad :: _ => throw new IllegalArgumentException(
        s"unknown argument '$bad'; expected --input --out " +
          "[--min-tokens n] [--min-distinct-ratio r] [--min-avg-logp x] " +
          "[--salt s] [--mix lang:share,...] [--bin-tokens n] [--span-state] " +
          "[--no-fuzzy-decontam] [--media-decontam] [--budget-share x] " +
          "[--diverse-per-cell n] [--embeddings dir] [--resume-dir dir]")
    }
    val cfg = loop(args.toList, Config())
    require(cfg.input.nonEmpty && cfg.out.nonEmpty, "--input and --out are required")
    require(cfg.minTokens >= 0 && cfg.minDistinctRatio >= 0.0 && cfg.minDistinctRatio <= 1.0,
      "thresholds out of range")
    require(cfg.mix.values.forall(v => v >= 0.0 && v <= 1.0), "--mix shares out of [0,1]")
    require(cfg.binTokens > 0, "--bin-tokens must be positive")
    require(cfg.budgetShare > 0.0 && cfg.budgetShare <= 1.0,
      "--budget-share must be in (0, 1] (1.0 disables the cut)")
    require(cfg.diversePerCell == 0 || cfg.embeddingsDir.nonEmpty,
      "--diverse-per-cell needs --embeddings <dir> (the document-embedding table)")
    cfg
  }

  final case class Funnel(
      input: Long, exactKept: Long, bowKept: Long, nearKept: Long,
      cleanKept: Long, fuzzyKept: Long, mmKept: Long, spanCutDocs: Long,
      screenedKept: Long, qualityKept: Long, budgetKept: Long,
      mixKept: Long, diverseKept: Long, nBins: Long,
      perSplit: Map[String, Long])

  /** Run the curation; writes the corpus partitioned by split and returns
    * (curated frame, stage funnel). With `cfg.resumeDir` set the run is
    * RESUMABLE: each stage seals its output under that dir and a re-run
    * recomputes only from the first unsealed/invalidated stage
    * ([[StageStore]] owns the fingerprint and crash contract).
    */
  def execute(spark: SparkSession, cfg: Config): (DataFrame, Funnel) =
    executeWith(spark, cfg, new StageStore(spark, cfg.resumeDir,
      // seed = path + CONTENT fingerprint: a sealed resume dir must be
      // invalidated when the data at the same path changes between runs
      // (append/rewrite/compaction), not only when the path string does.
      // Priced only when resumable: with no resume dir the store never
      // reads the seed, so a plain batch run must not pay the recursive
      // input listing the fingerprint costs.
      if (cfg.resumeDir.isEmpty) ""
      else cfg.input + "|" + StageStore.contentFingerprint(spark, cfg.input)))

  /** [[execute]] with a caller-owned [[StageStore]] — the seam the resume
    * spec uses to count sealed-stage hits across re-runs.
    */
  private[graft] def executeWith(spark: SparkSession, cfg: Config,
                                 store: StageStore): (DataFrame, Funnel) = {
    Bloom.register(spark) // no-op when GraftExtensions installed them already
    val docs = Tables.documents(spark, cfg.input)
    val nInput = docs.count()

    // 1. exact dedup: min doc_id per text hash, via a broadcast-friendly
    // self semi-join on (hash, min_id)
    val (exact, nExact) = counted(store, "exact", "") {
      val keepIds = docs.select(col("doc_id"), md5(col("text")).as("h"))
        .groupBy("h").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      docs.join(keepIds, Seq("doc_id"), "left_semi")
    }

    // 1b. bag-of-words dedup: min doc_id per sorted-token-multiset hash —
    // catches reordered-content duplicates the text hash misses, still a
    // per-row map + one hash agg (far cheaper than the near-dup machinery
    // it shields)
    val (bow, nBow) = counted(store, "bow", "") {
      val bowKeep = exact
        .select(col("doc_id"),
          md5(concat_ws(" ", sort_array(TextAnalysis.tokens(col("text"))))).as("bh"))
        .groupBy("bh").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      exact.join(bowKeep, Seq("doc_id"), "left_semi")
    }

    // 2. near-dup: simhash Hamming<=3 pairs (the shared Dedup.simhashPairs
    // definition) -> components -> keep each component's minimum doc
    val (near, nNear) = counted(store, "near", "") {
      val pairs = Dedup.simhashPairs(bow, "doc_id", "text", maxHamming = 3)
        .select("a", "b")
      val comps = Dedup.connectedComponents(pairs, bow.select("doc_id"), "doc_id")
      bow.join(
          comps.filter(col("doc_id") === col("comp")).select("doc_id"),
          Seq("doc_id"), "left_semi")
    }

    // 3. decontamination vs the eval blocklist (doc_id % 10 = 0), via the
    // shared bloom-split anti-join. Runs BEFORE the span cut: the
    // blocklist hashes ORIGINAL eval text (exact dedup may have removed
    // the eval twin from the frame, so hashes come from the raw input),
    // and only pre-cut text can match those hashes byte-for-byte.
    val clean0 = store.stage("clean0", "") {
      val blocklist = docs.filter(col("doc_id") % 10 === 0)
        .select(md5(col("text")).as("h"))
      Bloom.decontaminate(
        near.filter(col("doc_id") % 10 =!= 0), md5(col("text")), blocklist)
    }

    // the eval side of the FUZZY decontamination tier: original eval
    // text, pre-dedup (an eval doc deduplicated away upstream must still
    // contaminate its surviving near-twin)
    val evalDocs = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text")
    val (out, t) = curateTail(spark, clean0, evalDocs, nInput, cfg, store)
    (out, Funnel(nInput, nExact, nBow, nNear, t.cleanKept, t.fuzzyKept,
                 t.mmKept, t.spanCutDocs, t.screenedKept, t.qualityKept,
                 t.budgetKept, t.mixKept, t.diverseKept, t.nBins, t.perSplit))
  }

  /** Release-tail counts — the [[Funnel]] fields stages 3a→6 own. */
  final case class TailCounts(
      cleanKept: Long, fuzzyKept: Long, mmKept: Long, spanCutDocs: Long,
      screenedKept: Long, qualityKept: Long, budgetKept: Long,
      mixKept: Long, diverseKept: Long, nBins: Long,
      perSplit: Map[String, Long])

  /** Stages 3a→6 (fuzzy decontamination → span cut → screens → LM →
    * budget cut → mix → diversity → packing → split → write), factored
    * out of [[execute]] and shared VERBATIM with the streaming twin
    * ([[CorpusStream]]): the per-release tail is one code path, so "N
    * micro-batch publishes ≡ one batch run" holds for it by construction
    * and the equivalence spec only has to prove the incremental dedup
    * head. `evalDocs` is the eval-split side of the fuzzy tier —
    * ORIGINAL text, pre-dedup (the batch job passes the raw input's eval
    * half; the stream its per-epoch eval state table — identical unions).
    */
  private[pipeline] def curateTail(spark: SparkSession, decontaminated: DataFrame,
                                   evalDocs: DataFrame, nInput: => Long,
                                   cfg: Config, store: StageStore): (DataFrame, TailCounts) = {
    // the fuzzy tier's train side and its anti-join both read clean0:
    // materialize it once, or each re-runs the Bloom decontamination (and,
    // in the stream, the raw ⋉ keepers join) and ships the filter literal
    // inside every task binary
    val (clean0, clean0Stats) = StageStore.checkpointObserved(decontaminated, rowCount)
    val nClean0 = rows(clean0Stats)

    // 3a. FUZZY decontamination (the dedup_decontam_fuzzy tier composed):
    // drop training docs that are banded-MinHash near-duplicates
    // (Jaccard >= 0.7) of ANY eval doc — the leakage the exact-hash
    // blocklist cannot see. Cross-candidates only: the surviving corpus
    // is never self-paired, the eval side is benchmark-sized.
    val (fuzzy, nFuzzy) =
      if (!cfg.fuzzyDecontam) { store.skip("fuzzy", "off"); (clean0, nClean0) }
      else counted(store, "fuzzy", "on") {
        val bad = Dedup.fuzzyContaminatedIds(
          clean0.select("doc_id", "text"), evalDocs, "doc_id", "text")
        clean0.join(bad, Seq("doc_id"), "left_anti")
      }
    require(nFuzzy > 0,
      s"fuzzy decontamination emptied the corpus (clean=$nClean0)")

    // 3a'. MEDIA decontamination (the mm_decontam tier composed, opt-in):
    // drop training docs whose derived media fingerprint (60-bit aHash)
    // sits within Hamming 3 of ANY eval doc's — text leakage the fuzzy
    // tier already catches can also ride a near-identical media payload,
    // and vice versa. Banded cross probe only (train bands × eval bands
    // through the persistable long-band shape); eval side derives from
    // the SAME pre-dedup evalDocs the fuzzy tier probes, so a
    // deduplicated-away eval twin still contaminates.
    val (mm, nMm) =
      if (!cfg.mediaDecontam) { store.skip("mm", "off"); (fuzzy, nFuzzy) }
      else counted(store, "mm", "on") {
        import graft.multimodal.Multimodal
        def fp(df: DataFrame): DataFrame = Dedup.hammingLongBands(
          Multimodal.ahash(Multimodal.mediaFromText(
              df.select("doc_id", "text"), "doc_id", "text", "image", "corpus"), 60)
            .filter(col("n_bytes") > 0),
          "media_id", "ahash", bits = 60, nBands = 4)
        val bad = Dedup.hammingCrossPairsLong(fp(fuzzy), fp(evalDocs),
            "media_id", "ahash", bits = 60, nBands = 4, maxHamming = 3)
          .select(col("a").as("doc_id")).distinct()
        fuzzy.join(bad, Seq("doc_id"), "left_anti")
      }
    require(nMm > 0,
      s"media decontamination emptied the corpus (fuzzy=$nFuzzy)")

    // 3b. substring-span cut (the RefinedWeb-style exact-substring pass):
    // delete every later copy of a cross-doc duplicated 8-token span,
    // keeping the first. Document COUNT is unchanged (texts shrink, docs
    // stay) — the funnel reports how many docs lost tokens instead. Runs
    // on the decontaminated corpus, so eval docs never act as a span's
    // kept first occurrence. Zero-token docs fall out of the operator's
    // token stream; the left join + coalesce keeps them with their
    // original text.
    val (cutAll, cutStats) = store.observed("spancut", "",
        count(when(col("n_cut") > 0, lit(1))).as("cut")) {
      val kept = Dedup.spanCut(mm, "doc_id", "text", w = 8)
        .select(col("doc_id"), col("n_cut"), col("kept_text"))
      mm.join(kept, Seq("doc_id"), "left_outer")
        .withColumn("text", coalesce(col("kept_text"), col("text")))
        .drop("kept_text")
    }
    val nSpanCutDocs = cutStats("cut").asInstanceOf[Long]
    val clean = cutAll.drop("n_cut")

    // 4. quality screens on materialized tokens (never inline in a HOF)
    val (screened, nScreened) = counted(store, "screened",
        s"${cfg.minTokens}|${cfg.minDistinctRatio}") {
      clean
        .withColumn("toks", TextAnalysis.tokens(col("text")))
        .filter(size(col("toks")) >= cfg.minTokens)
        .filter(size(array_distinct(col("toks"))).cast("double") >=
          size(col("toks")).cast("double") * cfg.minDistinctRatio)
        .drop("toks")
    }
    require(nScreened > 0,
      s"curation emptied the corpus (input=$nInput): relax --min-tokens/--min-distinct-ratio")

    // 4a. corpus-LM screen: unigram avg log-prob estimated on the screened
    // survivors themselves (the standard self-referential fit), docs below
    // the threshold dropped as corpus-atypical — the CCNet-perplexity-
    // filter stand-in. Token-free docs (reachable when --min-tokens 0)
    // have no LM rows at all; they are KEPT via the left join's null
    // branch — the screen judges corpus-typicality, and "no evidence" must
    // not silently count as atypical.
    val (quality, nQuality) =
      if (cfg.minAvgLogp == Double.NegativeInfinity) {
        store.skip("quality", "off"); (screened, nScreened)
      } else counted(store, "quality", s"${cfg.minAvgLogp}") {
        val lm = TextAnalysis.unigramLogprob(screened, "doc_id", "text")
          .select("doc_id", "avg_logp")
        screened.join(lm, Seq("doc_id"), "left")
          .filter(col("avg_logp").isNull || col("avg_logp") >= cfg.minAvgLogp)
          .drop("avg_logp")
      }
    require(nQuality > 0,
      s"LM screen emptied the corpus (screened=$nScreened): relax --min-avg-logp")

    // 4a'. trained-classifier TOKEN-BUDGET cut (the FineWeb move,
    // composing text_quality_classifier + sample_token_budget): train the
    // deterministic hashed-unigram logistic regression on the survivors
    // (integer micro-logit weights — the same replayable model the
    // oracle-checked queries pin), score every doc, and keep the
    // BEST-scoring docs until `budgetShare` of the surviving tokens is
    // reached. The threshold is LOCATED by weighted descending histogram
    // selection ([[graft.operators.OrderStats.selectWeightedDesc]]) —
    // never a global sort — and ties at the threshold are admitted in
    // deterministic doc_id order through the two-phase grouped prefix
    // sum, so the cut is exact to the last partial document.
    val (budgeted, nBudget) =
      if (cfg.budgetShare >= 1.0) { store.skip("budget", "off"); (quality, nQuality) }
      else counted(store, "budget", s"${cfg.budgetShare}|${cfg.clfTarget}") {
        // labeled, doc-normalized hashed-unigram features (the
        // text_quality_classifier construction with the configurable
        // trusted-domain label)
        val feats = graft.operators.Classifier.milliFeatures(quality
            .select(col("doc_id"),
              when(col("source") === cfg.clfTarget, lit(1L)).otherwise(lit(0L)).as("y"),
              explode(TextAnalysis.tokens(col("text"))).as("token"))
            .select(col("doc_id"), col("y"),
              pmod(TextAnalysis.tokenHash(col("token")), lit(256L)).as("bucket"))
            .groupBy("doc_id", "y", "bucket").agg(count(lit(1)).as("tf")))
          .localCheckpoint(true)
        val w = graft.operators.Classifier.trainLogreg(feats, 256, 3)
        val scored = graft.operators.Classifier.score(feats, w)
          .select("doc_id", "score_nano")
          .join(quality.select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("__nt")),
            "doc_id")
          .localCheckpoint(true)
        // the selection's bounds pass sums the token weights anyway: the
        // budget derives from that total instead of a separate aggregate
        def budgetOf(total: Long): Long = (total * cfg.budgetShare).toLong
        val (total, t, above, _) = graft.operators.OrderStats.selectWeightedDescOf(
          scored.select(col("score_nano").as("v"), col("__nt").as("w")), budgetOf)
        val budget = budgetOf(total)
        val ties = graft.operators.PrefixSum.runningSumGrouped(
            scored.filter(col("score_nano") === t).withColumn("__g", lit(1)),
            Seq("__g"),
            floor(col("doc_id") / lit(graft.queries.TextQueries.PackBucketDocs)),
            Seq(col("doc_id")), col("__nt"), "__cum")
          .filter(col("__cum") + lit(above) <= lit(budget))
        val keep = scored.filter(col("score_nano") > t).select("doc_id")
          .unionByName(ties.select("doc_id"))
        quality.join(keep, Seq("doc_id"), "left_semi")
      }
    require(nBudget > 0, "token-budget cut emptied the corpus: raise --budget-share")

    // 4b. language-mix sampling (the sample_mix_plan contract applied):
    // per-language keep rate = min(1, target_share · total / n_lang),
    // realized as the DETERMINISTIC stratified hash sample so reruns and
    // retries keep the same docs. The per-lang frame is #languages rows —
    // the one collect a mix plan is allowed.
    val (mixed, nMixed) =
      if (cfg.mix.isEmpty) { store.skip("mixed", "off"); (budgeted, nBudget) }
      else counted(store, "mixed",
          cfg.mix.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString(",") +
            s"|${cfg.salt}") {
        val rates = budgeted.groupBy("lang").agg(count(lit(1)).as("n")).collect()
          .map { r =>
            val lang = r.getString(0)
            val share = cfg.mix.getOrElse(lang, 0.0)
            lang -> math.min(1.0, share * nBudget / r.getLong(1).toDouble)
          }.toMap
        Sampling.stratified(budgeted, col("lang"), rates, col("doc_id"), cfg.salt)
      }
    require(nMixed > 0, "mix sampling emptied the corpus: check --mix shares")

    // 4b'. cluster-balanced DIVERSITY cap (the sample_diverse contract
    // composed): k-means cells over the document-embedding table, at most
    // `diversePerCell` docs kept per cell in deterministic hash order —
    // the semantic-redundancy bound mix sampling (which only sees `lang`)
    // cannot provide. Docs without an embedding row are kept: the cap
    // bounds known redundancy, absence of evidence is not redundancy.
    val (diverse, nDiverse) =
      if (cfg.diversePerCell <= 0) { store.skip("diverse", "off"); (mixed, nMixed) }
      else counted(store, "diverse",
          // embeddings are a SECOND input the chain seed doesn't cover:
          // fingerprint their content too, not just the dir path
          s"${cfg.diversePerCell}|${cfg.embeddingsDir}|" +
            s"${StageStore.contentFingerprint(spark, cfg.embeddingsDir)}|" +
            s"${cfg.salt}") {
        import org.apache.spark.sql.expressions.Window
        graft.functions.VectorFunctions.register(spark)
        val vecs = graft.operators.Similarity.prepared(
          Tables.embeddings(spark, cfg.embeddingsDir)).select("vec_id", "v")
        val cents = graft.operators.Similarity.kmeansFit(vecs, k = 5, rounds = 2)
        val cells = graft.operators.Similarity.kmeansAssign(vecs, cents)
          .select(col("vec_id").as("doc_id"),
                  col("cluster").cast("long").as("__cell"))
        val w = Window.partitionBy("__cell")
          .orderBy(asc("__hk"), asc("doc_id"))
        val keep = mixed.select("doc_id")
          .join(cells, Seq("doc_id"), "left")
          .withColumn("__hk", Sampling.hash60(col("doc_id"), cfg.salt + "-div"))
          .withColumn("__rnk", row_number().over(w))
          .filter(col("__cell").isNull || col("__rnk") <= cfg.diversePerCell)
          .select("doc_id")
        mixed.join(keep, Seq("doc_id"), "left_semi")
      }
    require(nDiverse > 0, "diversity cap emptied the corpus: raise --diverse-per-cell")

    // 4c. context-window packing (the text_pack_bins contract applied):
    // per-language running token sum, a doc belongs to the bin its FIRST
    // token lands in. The running sum is the TWO-PHASE PrefixSum
    // decomposition over doc_id-range buckets (per-(lang, bucket) local
    // windows + per-lang exclusive bucket offsets) — bit-identical to the
    // serial per-lang window, but the dominant language never funnels
    // through one window task.
    val packed = graft.operators.PrefixSum.runningSumGrouped(
        diverse.withColumn("n_toks",
          size(TextAnalysis.tokens(col("text"))).cast("long")),
        Seq("lang"),
        floor(col("doc_id") / lit(graft.queries.TextQueries.PackBucketDocs)),
        Seq(col("doc_id")), col("n_toks"), "__cum")
      .withColumn("bin", floor((col("__cum") - col("n_toks")) / lit(cfg.binTokens)))
      .drop("n_toks", "__cum")

    // 5. deterministic split + 6. idempotent write. The overwrite is
    // STATIC (whole path), not dynamic-per-split: a curation is one atomic
    // corpus, and a re-run with stricter screens must not leave a stale
    // split directory from the previous run visible in the output
    val curated = Sampling.splitAssign(packed, col("doc_id"),
      Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01), cfg.salt)
    curated.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("split").parquet(cfg.out)

    val out = spark.read.parquet(cfg.out)
    // --span-state: persist the curated corpus's winnowed span
    // fingerprints as the bucketed standing table the NEXT ingest epoch's
    // incremental span dedup probes ([[graft.queries.DedupQueries
    // .spansIncremental]] / [[graft.operators.DedupState.writeSpans]]) —
    // curation hands the rolling pipeline its dedup state instead of
    // forcing the next batch to re-winnow this corpus
    if (cfg.spanState) {
      import graft.queries.DedupQueries
      graft.operators.DedupState.writeSpans(
        DedupQueries.winnowSelect(out.select("doc_id", "text"),
          DedupQueries.SpanW, DedupQueries.WinnowW),
        graft.operators.DedupState.names("corpus_job", cfg.out), buckets = 16)
    }
    // bins × splits rows: both counts from one aggregate over the written
    // corpus instead of re-running the packing for the bin count
    val binCounts = out.groupBy("split", "lang", "bin").count().collect()
    val nBins = binCounts.map(r => (r.get(1), r.get(2))).distinct.length.toLong
    val perSplit = binCounts.groupMapReduce(_.getString(0))(_.getLong(3))(_ + _)
    (out, TailCounts(nClean0, nFuzzy, nMm, nSpanCutDocs, nScreened, nQuality,
                     nBudget, nMixed, nDiverse, nBins, perSplit))
  }

  /** The row count every stage reports, observed on its checkpoint. */
  private def rowCount = count(lit(1)).as("rows")
  private def rows(observed: Map[String, Any]): Long =
    observed("rows").asInstanceOf[Long]

  /** A stage and its row count, both from the stage's one checkpoint job
    * ([[StageStore.observed]]); `compute` returns the un-checkpointed frame.
    */
  private def counted(store: StageStore, name: String, conf: String)(
      compute: => DataFrame): (DataFrame, Long) = {
    val (df, m) = store.observed(name, conf, rowCount)(compute)
    (df, rows(m))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    // master comes from spark-submit; SPARK_GRAFT_MASTER enables a local
    // smoke run (e.g. SPARK_GRAFT_MASTER=local[8] sbt "runMain ...")
    val b0 = SparkSession.builder().appName("graft-corpus-job")
    val b = sys.env.get("SPARK_GRAFT_MASTER").fold(b0)(b0.master)
    val spark = graft.Sessions.withGraftConf(b).getOrCreate()
    val (_, f) = execute(spark, cfg)
    val splits = f.perSplit.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"corpus_funnel","input":${f.input},"exact_kept":${f.exactKept},""" +
      s""""bow_kept":${f.bowKept},"near_kept":${f.nearKept},""" +
      s""""clean_kept":${f.cleanKept},"fuzzy_kept":${f.fuzzyKept},""" +
      s""""mm_kept":${f.mmKept},"span_cut_docs":${f.spanCutDocs},""" +
      s""""screened_kept":${f.screenedKept},"quality_kept":${f.qualityKept},""" +
      s""""budget_kept":${f.budgetKept},"mix_kept":${f.mixKept},""" +
      s""""diverse_kept":${f.diverseKept},"n_bins":${f.nBins},""" +
      s""""splits":$splits,"out":"${cfg.out}"}""")
  }
}
