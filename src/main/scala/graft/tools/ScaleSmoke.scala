package graft.tools

import graft.{RunLedger, Sessions, Tables}
import graft.operators.{Dedup, Materialize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical 10x-bench-scale smoke for the dedup pipeline (sf1-equivalent
  * corpus, ~50k docs when based on sf0.1): validates the 100 TB posture by
  * RUNNING it instead of asserting it.
  *
  * The corpus is synthesized from the driver's sf0.1 documents — `copies`
  * replicas, each with offset doc_ids and every token suffixed with the
  * replica tag. Replicas therefore share NO vocabulary: cross-replica
  * jaccard is 0, so all true near-dup structure is within-replica and pair
  * density scales linearly with the corpus — the honest shape for a
  * throughput scale-up (pure duplication would explode quadratic exact-dup
  * cliques instead).
  *
  * Run: SPARK_GRAFT_SMOKE_COPIES=10 sbt "runMain graft.tools.ScaleSmoke"
  * Asserts completion under SPARK_GRAFT_SMOKE_BUDGET_SEC (default 600) and
  * within-replica-only pairs; prints one JSON line and writes
  * scale_smoke.json.
  */
object ScaleSmoke {

  /** doc_id offset between replicas — also the replica discriminator. */
  val Offset = 10000000L

  final case class SkewResult(twoPathSec: Double, plainSec: Double,
                              twoStraggler: Double, plainStraggler: Double,
                              twoPathAqeSec: Double)

  /** Hot-key-scoped salted join on a PLANTED-skew fixture: 70% of `rows`
    * fact rows land on ONE key. AQE's skew-join split is disabled for the
    * measurement — it would rescue the plain join here, and the operator
    * exists precisely for the skews AQE cannot see or reach (aggregate
    * shuffles, bucketed sides, off-plan engines). AQE partition
    * coalescing is disabled too: it would merge the 32 reducers of a
    * ~modest-MB shuffle into a handful of tasks, dropping the join stage
    * below [[RunLedger.straggler]]'s ≥16-task qualifier and making the
    * straggler metric read scheduler noise instead of the planted skew.
    * The pins:
    * the fixture genuinely bites (the plain join's widest stage has a
    * ≥4x-median straggler task), the two-path form has NO task past 4x
    * its stage median, its row count is identical, and it holds wall-time
    * parity with the straggling plain join. Requirements fire on
    * violation; returns the measured numbers for the artifact line.
    */
  def measureSkew(spark: SparkSession, rows: Long): SkewResult = {
    val skewKeys = 100000L
    val skewFact = spark.range(rows).select(
        when(pmod(col("id"), lit(10L)) < 7, lit(7L))
          .otherwise(pmod(abs(hash(col("id"))), lit(skewKeys)).cast("long")).as("k"),
        col("id").as("rowid"), (col("id") % 1000L).as("v"))
      .transform(Materialize.frame) // both runs time the JOIN, not range codegen
    val skewDim = spark.range(skewKeys)
      .select(col("id").as("dk"), (col("id") % 97L).as("attr"))
      .transform(Materialize.frame)
    // Heavy CPU-bound per-joined-row work (nested sha2 + hash), folded to
    // ONE (xor-of-row-hash, count) pair. Two jobs at once: (a) on
    // local[32] every concurrently-running task stretches to a similar
    // wall time (32 tasks share one memory bus, so a fetch/sort-bound
    // stage contends to near-uniform durations and the planted hot task
    // reads only ~2x its stage median); per-row CPU work restores the
    // contrast a real cluster would see — the hot reducer's work grows
    // with its row count, not the contention floor. (b) xor-of-hash over
    // every output row makes the two-path ≡ plain pin CONTENT identity,
    // not just a row count.
    def probeAgg(joined: DataFrame): (Long, Long) = {
      val r = joined.select(
          xxhash64(sha2(concat_ws("-", col("rowid"), col("attr"), col("v"),
            sha2(concat_ws(":", col("rowid"), col("v")), 256)), 256)).as("__h"))
        .agg(expr("bit_xor(__h)").as("s"), count(lit(1)).as("n"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val sc = spark.sparkContext
    val ledger = RunLedger.attach(sc)
    // one arm under its own job group: (wall s, probe result, worst
    // straggler ratio, its stages' task stats for the pins' messages)
    def arm(name: String)(run: => (Long, Long)): (Double, (Long, Long), Double, String) = {
      val group = s"graft-skew:$name"
      sc.setJobGroup(group, name)
      val t0 = System.nanoTime()
      val n = try run finally sc.clearJobGroup()
      val t = (System.nanoTime() - t0) / 1e9
      ledger.flush()
      val stages = ledger.stageStats(group)
        .map { case (id, k, med, mx) => s"$id:$k/$med/$mx" }.mkString(" ")
      (t, n, ledger.straggler(group), s"stages (id:tasks/median ms/max ms) $stages")
    }
    // 32 reducers whatever the session's core count, so the join stage
    // clears the ≥16-task qualifier on a small box too
    val measureConf = Seq("spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "32")
    val prevConf = measureConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    measureConf.foreach { case (k, v) => spark.conf.set(k, v) }
    val ((tTwoPath, nTwoPath, twoStraggler, twoStages),
         (tPlainJoin, nPlainJoin, plainStraggler, plainStages)) =
      try {
        (arm("two-path")(probeAgg(graft.operators.Skew.hotScopedJoin(skewFact,
          skewDim, "k", "dk", hotMinRows = rows / 100L, salts = 64,
          saltOn = col("rowid")))),
         arm("plain")(probeAgg(skewFact
          .join(skewDim.hint("merge"), col("k") === col("dk")))))
      } finally {
        ledger.detach()
        prevConf.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
    // AQE-COMPATIBILITY arm: the measurement above disables AQE's skew
    // split to expose the planted straggler; production runs with it ON,
    // so the operator must COMPOSE with spark.sql.adaptive.skewJoin —
    // the salted leg's exchange is already near-uniform (nothing for AQE
    // to split), the cold leg may be split further, and neither may
    // change content or degenerate the plan (no cartesian fallback, no
    // nested-loop) — double-splitting a salted exchange would show up as
    // either. Conf was restored above, i.e. this arm runs the session's
    // production defaults (adaptive on).
    val (tTwoAqe, nTwoAqe, planAqe) =
      try {
        val t0 = System.nanoTime()
        val joined = graft.operators.Skew.hotScopedJoin(skewFact, skewDim,
          "k", "dk", hotMinRows = rows / 100L, salts = 64, saltOn = col("rowid"))
        val q = joined.select(
            xxhash64(sha2(concat_ws("-", col("rowid"), col("attr"), col("v"),
              sha2(concat_ws(":", col("rowid"), col("v")), 256)), 256)).as("__h"))
          .agg(expr("bit_xor(__h)").as("s"), count(lit(1)).as("n"))
        val r = q.head()
        val t = (System.nanoTime() - t0) / 1e9
        (t, (r.getLong(0), r.getLong(1)),
          q.queryExecution.executedPlan.toString)
      } finally { skewFact.unpersist(); skewDim.unpersist() }
    require(nTwoPath == nPlainJoin,
      s"two-path salted join changed the output content " +
        s"(xor-of-row-hash, count): $nTwoPath != $nPlainJoin")
    require(nTwoAqe == nPlainJoin,
      s"two-path salted join under AQE changed the output content: " +
        s"$nTwoAqe != $nPlainJoin")
    require(!planAqe.contains("CartesianProduct") &&
        !planAqe.contains("BroadcastNestedLoopJoin"),
      "two-path salted join under AQE degenerated to a cartesian/nested-loop plan")
    require(tTwoAqe <= math.max(tTwoPath, tPlainJoin) * 2.0,
      f"two-path salted join under AQE blew up: $tTwoAqe%.1fs vs AQE-off $tTwoPath%.1fs")
    require(plainStraggler >= 4.0,
      f"planted skew did not bite (plain-join straggler $plainStraggler%.1fx) — " +
        s"the pin is vacuous; $plainStages")
    require(twoStraggler <= 4.0,
      f"two-path salted join still straggles: worst task $twoStraggler%.1fx " +
        s"its stage median; $twoStages")
    require(tTwoPath <= tPlainJoin * 1.5,
      f"two-path salted join lost wall-time parity: $tTwoPath%.1fs vs plain $tPlainJoin%.1fs")
    SkewResult(tTwoPath, tPlainJoin, twoStraggler, plainStraggler, tTwoAqe)
  }

  /** N disjoint-vocabulary replicas of a documents frame. */
  def replicate(docs: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { i =>
      docs.select(
        (col("doc_id") + lit(i * Offset)).as("doc_id"),
        // suffix every token with the replica tag: same token-set geometry
        // per replica, zero vocabulary overlap across replicas
        regexp_replace(col("text"), "(\\S+)", s"$$1r$i").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SMOKE_COPIES", "10").toInt
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_SMOKE_BUDGET_SEC", "600").toLong
    val cpus = Sessions.cores
    val dir = java.nio.file.Files.createTempDirectory("graft-sf1").toString
    val spark = Sessions.local("graft-scale-smoke", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nBase = Tables.documents(spark, base).count()
    replicate(Tables.documents(spark, base), copies)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val nDocs = Tables.documents(spark, dir).count()
    require(nDocs == nBase * copies, s"replication produced $nDocs of ${nBase * copies}")

    def timedIn(defs: Map[String, (SparkSession, String) => DataFrame])
               (q: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = defs(q)(spark, dir).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val timed = timedIn(graft.queries.DedupQueries.defs) _
    val (tPairs, nPairs) = timed("dedup_minhash_pairs")
    // AQE must keep the pair-join output exchange bounded: 43.9M pairs at
    // 10x scale should coalesce to a modest partition count, not fan out
    val pairParts = graft.queries.DedupQueries.defs("dedup_minhash_pairs")(spark, dir)
      .rdd.getNumPartitions
    require(pairParts <= 8 * cpus,
      s"pair-join exchange unbounded: $pairParts partitions")
    val (tClusters, nClusters) = timed("dedup_clusters")
    val (tNgram, nNgram) = timed("dedup_ngram_pairs")
    val (tContain, nContain) = timed("dedup_containment")
    val (tSpans, nSpans) = timed("dedup_spans")
    val (tSpansMin, nSpansMin) = timed("dedup_spans_minimized")
    val (tHeavy, nHeavy) = timedIn(graft.queries.SketchQueries.defs)("cms_heavy_hitters")
    val (tGraph, nGraph) = timedIn(graft.queries.GraphQueries.defs)("graph_domain_rank")
    val (tBigram, nBigram) = timedIn(graft.queries.TextQueries.defs)("text_bigram_logprob")
    val (tPrefix, nPrefix) = timed("dedup_prefix_pairs")
    val (tTri, nTri) = timedIn(graft.queries.GraphQueries.defs)("graph_triangles")
    val (tCdc, nCdc) = timed("dedup_cdc_chunks")
    val (tPhash, nPhash) = timedIn(graft.queries.MultimodalQueries.defs)("mm_phash_pairs")

    // replicas are structurally identical with disjoint vocabularies, so
    // span duplicates and heavy shingles scale EXACTLY linearly: 10x the
    // corpus must give 10x the rows, not 100x (a quadratic leak) or fewer
    // (blocking that silently drops structure at scale)
    val nSpansBase = graft.queries.DedupQueries.defs("dedup_spans")(spark, base).count()
    require(nSpans == nSpansBase * copies,
      s"span occurrences must scale linearly: $nSpans != $nSpansBase x $copies")
    val nHeavyBase = graft.queries.SketchQueries.defs("cms_heavy_hitters")(spark, base).count()
    require(nHeavy == nHeavyBase * copies,
      s"heavy shingles must scale linearly: $nHeavy != $nHeavyBase x $copies")
    // winnowed duplicated occurrences are a strict sample of the stride-1
    // ones (selection can't invent a duplicate) — and the whole point is
    // the sample being MUCH smaller than rows=tokens. Exact linearity
    // doesn't hold here: replica-suffixed tokens re-roll every window
    // hash, so each replica winnows its own (valid) selection.
    require(nSpansMin > 0 && nSpansMin < nSpans / 2,
      s"winnowed spans not sub-linear: $nSpansMin vs $nSpans stride-1 rows")

    // assertion section: the pair frame below is the memoized one, so
    // every internal minhashPairsRaw call (e.g. inside graph_domain_rank's
    // edge derivation) hits the same checkpointed frame instead of
    // re-deriving the LSH + verify pipeline (~15s per derivation at 10x)
    val pairFrame = graft.queries.DedupQueries.defs("dedup_minhash_pairs")(spark, dir)
      .transform(Materialize.frame)
    val rankFrame = graft.queries.GraphQueries.defs("graph_domain_rank")(spark, dir)
      .transform(Materialize.frame)

    // every verified pair must be within one replica (vocabularies are
    // disjoint, so a cross-replica pair means the pipeline is broken)
    val cross = pairFrame
      .filter(floor(col("doc_a") / Offset) =!= floor(col("doc_b") / Offset)).count()
    require(cross == 0L, s"$cross cross-replica pairs — vocabulary leak")
    require(nClusters == nDocs, s"clusters must label every doc: $nClusters != $nDocs")
    require(nNgram > 0 && nContain > 0, s"ngram=$nNgram containment=$nContain must find pairs")

    // the domain graph stays DOMAIN-sized no matter the corpus scale (the
    // sources are shared across replicas), and its total incoming
    // duplicate weight must equal exactly twice the cross-source verified
    // pair count — the edge derivation may not invent or drop mass
    require(nGraph == Tables.documents(spark, dir).select("source").distinct().count(),
      s"domain rank must cover every source: $nGraph rows")
    val nCrossSrcPairs = {
      val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      pairFrame
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .filter(col("sa") =!= col("sb")).count()
    }
    val graphW = rankFrame.agg(sum("dup_w")).head.getLong(0)
    require(graphW == 2 * nCrossSrcPairs,
      s"graph mass leak: sum(dup_w)=$graphW != 2x$nCrossSrcPairs cross-source pairs")
    // every doc has >= 2 tokens in this corpus: the bigram LM must score all
    require(nBigram == nDocs, s"bigram LM must score every doc: $nBigram != $nDocs")
    // prefix filtering is LOSSLESS and the exact-jaccard output is
    // suffix-invariant, so verified pairs scale exactly linearly — even
    // though the rarity-order tie-breaks (and hence candidate sets) differ
    // per replica, the OUTPUT may not
    val nPrefixBase = graft.queries.DedupQueries.defs("dedup_prefix_pairs")(spark, base).count()
    require(nPrefix == nPrefixBase * copies,
      s"prefix-join pairs must scale linearly: $nPrefix != $nPrefixBase x $copies")
    // the triangle census runs on the domain graph, which stays
    // domain-sized at any corpus scale (sources are shared across replicas)
    require(nTri == nGraph,
      s"triangle census must cover every domain: $nTri != $nGraph")
    // CDC boundaries depend on token-hash VALUES, so the per-replica token
    // renaming re-rolls every cut point and exact linearity does NOT hold
    // (unlike spans, whose stride-1 duplicate structure is invariant under
    // a bijective vocab map — measured 21333 vs 21800 at 10x, a 2% re-roll
    // drift). The invariants that DO hold: (1) disjoint vocabularies mean
    // no chunk hash may span replicas, so the census is a per-replica sum;
    // (2) that sum must stay LINEAR-order — 10x corpus gives ~10x
    // duplicated chunks, never ~100x (pairing leak) nor ~1x (collapse)
    val cdcCross = Dedup.cdcChunks(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("chunk_md5"), floor(col("doc_id") / Offset).as("rep"))
      .groupBy("chunk_md5").agg(countDistinct(col("rep")).as("nrep"))
      .filter(col("nrep") >= 2).count()
    require(cdcCross == 0L, s"$cdcCross chunk hashes span replicas — vocabulary leak")
    val nCdcBase = graft.queries.DedupQueries.defs("dedup_cdc_chunks")(spark, base).count()
    require(nCdc >= nCdcBase * copies / 2 && nCdc <= nCdcBase * copies * 2,
      s"cdc chunk census not linear-order: $nCdc vs $nCdcBase x $copies")
    // Perceptual fingerprints read BYTES, not token sets — and replica
    // texts are the same bytes with a one-digit suffix per token, i.e.
    // byte-level near-twins BY CONSTRUCTION. So unlike the shingle-based
    // pair ops (whose disjoint vocabularies forbid cross-replica pairs),
    // aHash MUST find cross-replica pairs — most of them sibling pairs
    // (the same base doc in two replicas). The pins: the planted twins
    // are detected (recall), siblings dominate the cross-replica set
    // (precision — non-sibling cross pairs can only be near-dups of
    // near-dup bases), and the total stays linear in the corpus — a
    // quadratic accident blowup (the 32-bit failure mode) would put
    // pair count within an order of nDocs², not nDocs.
    val phashFrame = graft.queries.MultimodalQueries.defs("mm_phash_pairs")(spark, dir)
      .transform(Materialize.frame)
    val phCross = phashFrame
      .filter(floor(col("media_a") / Offset) =!= floor(col("media_b") / Offset))
      .transform(Materialize.frame)
    val crossN = phCross.count()
    val sibN = phCross.filter(col("media_a") % Offset === col("media_b") % Offset).count()
    require(crossN > 0L, "phash found none of the planted cross-replica byte-twins")
    require(sibN * 2 >= crossN,
      s"sibling pairs ($sibN) don't dominate cross-replica pairs ($crossN)")
    require(nPhash <= 30L * nDocs,
      s"phash pair count not linear in corpus: $nPhash pairs for $nDocs docs")

    // BPE family at 10x — PURE duplication this time (unchanged text,
    // offset doc_ids), because the claim under test is the opposite of the
    // suffixed replicas': training reduces the corpus to its word-TYPE
    // relation, so a 10x corpus with the SAME vocabulary must (1) keep the
    // type relation exactly base-sized — the "types-sized, never
    // corpus-sized" docstring claim, (2) learn the IDENTICAL merge
    // sequence with pair counts exactly 10x and unchanged post-merge
    // vocab sizes, and (3) encode every replica of a doc to identical
    // token counts. The suffixed replicas would instead grow the type
    // relation by exactly `copies` (disjoint vocabularies) — true but not
    // the scale claim BPE makes.
    val bpeDir = java.nio.file.Files.createTempDirectory("graft-sf1-bpe").toString
    (0 until copies).map { i =>
      Tables.documents(spark, base).select(
        (col("doc_id") + lit(i * Offset)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _).repartition(cpus)
      .write.mode("overwrite").parquet(s"$bpeDir/documents.parquet")
    val t0Bpe = System.nanoTime()
    val merges10 = graft.queries.TextQueries.defs("text_bpe_merges")(spark, bpeDir)
      .collect()
    val tBpe = (System.nanoTime() - t0Bpe) / 1e9
    val typesBase = graft.operators.TextAnalysis
      .tokenRows(Tables.documents(spark, base), "doc_id", "text")
      .select("token").distinct().count()
    val types10 = graft.operators.TextAnalysis
      .tokenRows(Tables.documents(spark, bpeDir), "doc_id", "text")
      .select("token").distinct().count()
    require(types10 == typesBase,
      s"word-TYPE relation grew under pure duplication: $types10 != $typesBase")
    val mergesBase = graft.queries.TextQueries.defs("text_bpe_merges")(spark, base)
      .collect()
    require(merges10.length == mergesBase.length,
      s"merge count drift at 10x: ${merges10.length} != ${mergesBase.length}")
    merges10.zip(mergesBase).foreach { case (m10, mb) =>
      require(m10.getString(1) == mb.getString(1) &&
        m10.getString(2) == mb.getString(2) &&
        m10.getLong(3) == mb.getLong(3) * copies &&
        m10.getLong(4) == mb.getLong(4),
        s"merge sequence drift at 10x: $m10 vs $mb")
    }
    // every replica of a doc must encode identically: collapsing encode
    // output on (doc_id mod Offset, counts) must land on exactly nBase rows
    val encDistinct = graft.queries.TextQueries.defs("text_bpe_encode")(spark, bpeDir)
      .select((col("doc_id") % Offset).as("bd"), col("n_toks"), col("n_bpe"))
      .distinct().count()
    require(encDistinct == nBase,
      s"encode not replica-invariant: $encDistinct distinct vs $nBase base docs")

    // trained-classifier replica invariance at 10x (the pure-duplication
    // corpus again): features are per-doc-normalized, the balanced
    // gradient is a pair of class MEANS, and IEEE division is correctly
    // rounded — so (10·g)/(2·10·n) is bit-equal to g/(2·n) and the
    // trained weight relation must be IDENTICAL at 10x. The pin that
    // makes the quality filter a fixed point of corpus
    // growth-by-duplication: re-training on a mirrored corpus cannot
    // drift the filter.
    val t0Clf = System.nanoTime()
    val w10 = graft.operators.Classifier.trainLogreg(
        graft.queries.TextQueries.clfFeatures(spark, bpeDir), 256, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val tClf = (System.nanoTime() - t0Clf) / 1e9
    val wBase = graft.operators.Classifier.trainLogreg(
        graft.queries.TextQueries.clfFeatures(spark, base), 256, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    require(w10 == wBase,
      "trained classifier weights drifted under pure duplication")

    // eval-overlap replica invariance on the pure-duplication corpus:
    // Offset is a multiple of 10, so every replica of an eval doc is an
    // eval doc — the training gram set is then replica-invariant and each
    // replica's contamination row must equal its base row exactly
    // (collapsing on doc_id mod Offset lands on exactly the base rows)
    val ovDistinct = graft.queries.MiscQueries.defs("profile_eval_overlap")(spark, bpeDir)
      .select((col("doc_id") % Offset).as("bd"), col("n_grams"),
        col("n_overlap"), col("overlap_milli"))
      .distinct().count()
    val ovBase = graft.queries.MiscQueries.defs("profile_eval_overlap")(spark, base).count()
    require(ovDistinct == ovBase,
      s"eval-overlap not replica-invariant: $ovDistinct distinct vs $ovBase base rows")

    // two-phase packing ≡ the serial per-language window at 10x — the
    // PrefixSum decomposition's bit-identity claim exercised where it
    // matters: the 10x corpus spans many doc_id-range buckets per
    // language, so per-bucket locals + exclusive offsets actually compose
    // (the 500-doc fixtures fit one bucket and would vacuously pass)
    val t0Pack = System.nanoTime()
    val packTwoPhase = graft.queries.TextQueries.defs("text_pack_bins")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val tPack = (System.nanoTime() - t0Pack) / 1e9
    val wSerial = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    val packSerial = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("cum", sum("n_toks").over(wSerial))
      .withColumn("bin", floor((col("cum") - col("n_toks")) / lit(2048L)))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("bin_toks"),
           min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("lang", "bin")
      .collect().map(_.toSeq).toSeq
    require(packTwoPhase == packSerial,
      "two-phase packing diverged from the serial per-language window at 10x")

    // dedup-state epoch-advance at 10x: standing state = replicas 0..8,
    // DedupState.merge absorbs replica 9. Row-level merge ≡ rebuild is
    // pinned at fixture scale by DedupStateMergeSpec; here the scale
    // evidence is (a) all four tables land row-count-identical to the
    // from-scratch 10-replica build and (b) the measured wall ratio —
    // the merge prices one batch + bucketed probes, the rebuild prices
    // the whole corpus, and that gap is the entire point of keeping
    // state at 100 TB (recorded in the JSON, not pinned: wall ratios on
    // a shared box are evidence, not invariants)
    // the rebuild is from scratch even though the memoized frames of the
    // sections above are still live: buildFullState and mergeEpoch take
    // the corpus as a frame and read no memo entry (DedupState.write,
    // stateVerifiedEdges without shared masks, connectedComponents,
    // winnowSelect), so the rebuild pays the corpus-wide
    // tokenize/shingle/band work itself
    val nineDocs = Tables.documents(spark, dir)
      .filter(col("doc_id") < 9L * Offset)
    val batchDocs = Tables.documents(spark, dir)
      .filter(col("doc_id") >= 9L * Offset)
    val nMerged = graft.operators.DedupState.names("graft_smoke_m", dir)
    val nFull = graft.operators.DedupState.names("graft_smoke_f", dir)
    graft.queries.DedupQueries.buildFullState(spark, nineDocs, nMerged)
    val t0Merge = System.nanoTime()
    graft.queries.DedupQueries.mergeEpoch(spark, batchDocs, nMerged)
    val tMerge = (System.nanoTime() - t0Merge) / 1e9
    val t0Rebuild = System.nanoTime()
    graft.queries.DedupQueries.buildFullState(spark,
      Tables.documents(spark, dir), nFull)
    val tRebuild = (System.nanoTime() - t0Rebuild) / 1e9
    Seq("bands" -> ((s: graft.operators.DedupState.Names) =>
          graft.operators.DedupState.bands(spark, s)),
        "toks" -> ((s: graft.operators.DedupState.Names) =>
          graft.operators.DedupState.toks(spark, s)),
        "spans" -> ((s: graft.operators.DedupState.Names) =>
          graft.operators.DedupState.spans(spark, s)),
        "comps" -> ((s: graft.operators.DedupState.Names) =>
          graft.operators.DedupState.comps(spark, s))).foreach { case (what, t) =>
      val (m, f) = (t(nMerged).count(), t(nFull).count())
      require(m == f, s"epoch-advance $what table diverged at 10x: $m != $f")
    }

    // standing-state compaction at 10x: the epoch merge above left every
    // bucket of the merged state holding one file per write (build +
    // append); the staged-swap compaction must fold each table back to
    // ≤bucket-count files with zero row drift (the band-key fold is the
    // cheap full-scan probe twin), and its wall cost is recorded — the
    // price of restoring day-one read cost after an ingest epoch
    val foldBefore = graft.operators.DedupState.bands(spark, nMerged)
      .groupBy("band_key").count().count()
    val filesBefore = graft.operators.Compaction.fileCount(spark, nMerged.bands)
    val t0Compact = System.nanoTime()
    val cstats = graft.operators.DedupState.compact(spark, "doc_id", nMerged, 16)
    val tCompact = (System.nanoTime() - t0Compact) / 1e9
    val filesAfter = graft.operators.Compaction.fileCount(spark, nMerged.bands)
    require(filesBefore > 16 && filesAfter <= 16,
      s"band compaction did not shrink files: $filesBefore -> $filesAfter")
    cstats.foreach(st => require(st.rowsAfter == st.rowsBefore,
      s"compaction changed a table's rows at 10x: $st"))
    val foldAfter = graft.operators.DedupState.bands(spark, nMerged)
      .groupBy("band_key").count().count()
    require(foldBefore == foldAfter,
      s"band fold diverged across compaction: $foldBefore != $foldAfter")

    // stored graph maintenance at 10x: the per-epoch edge-partial
    // decomposition (corpus-self off the bucketed state + one batch delta
    // via the SAME incremental probes the merge above just priced) must
    // reproduce the recomputed rank row-for-row — the equivalence
    // graph_domain_rank_stored's shared oracle pins at sf0.01, held here
    // at 10x. The state build is timed apart from the rank refresh: the
    // refresh is what a re-rank costs once pair work is paid per epoch
    // (the merge-vs-rebuild ratio above prices that pair work).
    val t0GstB = System.nanoTime()
    graft.queries.GraphQueries.edgeState(spark, dir)
    val tGstBuild = (System.nanoTime() - t0GstB) / 1e9
    val t0GstR = System.nanoTime()
    val rankStored = graft.queries.GraphQueries.domainRankStored(spark, dir)
      .collect().map(_.toSeq)
    val tGstRank = (System.nanoTime() - t0GstR) / 1e9
    val rankFull = graft.queries.GraphQueries.domainRank(spark, dir)
      .collect().map(_.toSeq)
    require(rankStored.toSeq == rankFull.toSeq,
      "stored graph rank diverged from the recompute at 10x")

    // the flagship curation job end-to-end at 10x: funnel must narrow
    // monotonically (including the round-9 fuzzy-decontamination and
    // token-budget stages) and stay inside the same wall budget
    val t0Corpus = System.nanoTime()
    val (_, funnel) = graft.pipeline.CorpusJob.execute(spark,
      graft.pipeline.CorpusJob.Config(input = dir,
        out = java.nio.file.Files.createTempDirectory("graft-sf1-corpus").toString))
    val tCorpus = (System.nanoTime() - t0Corpus) / 1e9
    require(funnel.input == nDocs && funnel.diverseKept > 0 &&
      funnel.input >= funnel.exactKept && funnel.exactKept >= funnel.bowKept &&
      funnel.bowKept >= funnel.nearKept &&
      funnel.nearKept >= funnel.cleanKept && funnel.cleanKept >= funnel.fuzzyKept &&
      funnel.fuzzyKept >= funnel.screenedKept &&
      funnel.screenedKept >= funnel.qualityKept &&
      funnel.qualityKept >= funnel.budgetKept &&
      funnel.budgetKept >= funnel.mixKept &&
      funnel.mixKept >= funnel.diverseKept &&
      funnel.spanCutDocs <= funnel.fuzzyKept,
      s"corpus funnel broken at 10x: $funnel")

    val skewRows = nDocs * 100L
    val SkewResult(tTwoPath, tPlainJoin, twoStraggler, plainStraggler,
                   tTwoAqe) = measureSkew(spark, skewRows)

    val total = tPairs + tClusters + tNgram + tContain + tSpans + tSpansMin +
      tHeavy + tGraph + tBigram + tPrefix + tTri + tCdc + tPhash + tBpe +
      tClf + tPack + tMerge + tRebuild + tCompact + tGstBuild + tGstRank + tCorpus
    require(total <= budgetSec,
      f"budget blown: pairs $tPairs%.1f + clusters $tClusters%.1f + ngram $tNgram%.1f + " +
        f"containment $tContain%.1f + spans $tSpans%.1f + spans_min $tSpansMin%.1f + " +
        f"heavy $tHeavy%.1f + graph $tGraph%.1f + bigram $tBigram%.1f + " +
        f"prefix $tPrefix%.1f + triangles $tTri%.1f + cdc $tCdc%.1f + " +
        f"phash $tPhash%.1f + bpe $tBpe%.1f + clf $tClf%.1f + pack $tPack%.1f + " +
        f"merge $tMerge%.1f + rebuild $tRebuild%.1f + compact $tCompact%.1f + " +
        f"graph-state $tGstBuild%.1f/$tGstRank%.1f + corpus $tCorpus%.1f > ${budgetSec}s")

    val json =
      f"""{"metric":"scale_smoke","base":"$base","copies":$copies,"docs":$nDocs,"skew_two_path_sec":$tTwoPath%.2f,"skew_plain_sec":$tPlainJoin%.2f,"skew_straggler_two":$twoStraggler%.2f,"skew_straggler_plain":$plainStraggler%.2f,"skew_two_path_aqe_sec":$tTwoAqe%.2f,"skew_rows":$skewRows,"pairs_sec":$tPairs%.2f,"clusters_sec":$tClusters%.2f,"ngram_sec":$tNgram%.2f,"containment_sec":$tContain%.2f,"spans_sec":$tSpans%.2f,"spans_min_sec":$tSpansMin%.2f,"heavy_sec":$tHeavy%.2f,"graph_sec":$tGraph%.2f,"bigram_sec":$tBigram%.2f,"prefix_sec":$tPrefix%.2f,"triangles_sec":$tTri%.2f,"cdc_sec":$tCdc%.2f,"phash_sec":$tPhash%.2f,"bpe_sec":$tBpe%.2f,"bpe_types":$types10,"clf_sec":$tClf%.2f,"pack_sec":$tPack%.2f,"merge_sec":$tMerge%.2f,"rebuild_sec":$tRebuild%.2f,"compact_sec":$tCompact%.2f,"compact_files_before":$filesBefore,"compact_files_after":$filesAfter,"graph_state_build_sec":$tGstBuild%.2f,"graph_state_rank_sec":$tGstRank%.2f,"corpus_sec":$tCorpus%.2f,"corpus_kept":${funnel.diverseKept},"span_cut_docs":${funnel.spanCutDocs},"fuzzy_kept":${funnel.fuzzyKept},"budget_kept":${funnel.budgetKept},"mix_kept":${funnel.mixKept},"n_bins":${funnel.nBins},"pairs":$nPairs,"clusters":$nClusters,"ngram":$nNgram,"containment":$nContain,"spans":$nSpans,"spans_min":$nSpansMin,"heavy":$nHeavy,"graph":$nGraph,"bigram":$nBigram,"prefix":$nPrefix,"triangles":$nTri,"cdc":$nCdc,"phash":$nPhash,"budget_sec":$budgetSec}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("scale_smoke.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    println(json)
  }
}
