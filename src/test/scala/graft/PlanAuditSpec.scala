package graft

import graft.queries._
import org.apache.spark.sql.DataFrame

/** Physical-plan audit: the properties that decide 100 TB viability are
  * asserted here so a plan regression fails CI — filters reaching the
  * parquet scan (PushedFilters), column pruning (ReadSchema), and join
  * strategy (broadcast where a side is small).
  */
class PlanAuditSpec extends SparkSpec {

  private def finalPlan(df: DataFrame): String = {
    df.collect()
    // keep only the AQE final plan; the toString repeats the initial plan below
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** The shared token frame every span/shingle builder reads: one
    * exchange-free pass over exactly the four columns it keeps.
    */
  private def assertTokFrameScan(): Unit = {
    val plan = finalPlan(DedupQueries.tokFrameBuild(spark, sf()))
    assert(!plan.contains("Exchange"), plan)
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(scanCols.split(",").map(_.split("#")(0).trim).toSet ===
      Set("doc_id", "lang", "n_chars", "text"), plan)
  }

  test("r4: linenumber filter is pushed to the lineitem scan") {
    val plan = finalPlan(RefQueries.r4(spark, sf()))
    assert(plan.contains("PushedFilters: [IsNotNull(l_linenumber), EqualTo(l_linenumber,1)]"), plan)
  }

  test("r4: scan reads only the five needed lineitem columns") {
    val plan = finalPlan(RefQueries.r4(spark, sf()))
    // ReadSchema is truncated in toString; the FileScan column list is not
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    val cols = scanCols.split(",").map(_.split("#")(0).trim).toSet
    assert(cols === Set("l_orderkey", "l_suppkey", "l_linenumber",
                        "l_extendedprice", "l_returnflag"), scanCols)
  }

  test("c1: segment filter pushed; small filtered customer side broadcasts") {
    val plan = finalPlan(CoreQueries.c1(spark, sf()))
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // lineitem scan must not read more than the 3 needed columns
    val lineitemRead = "ReadSchema: struct<l_orderkey[^>]*>".r.findFirstIn(plan).getOrElse("")
    assert(lineitemRead.contains("l_extendedprice") && !lineitemRead.contains("l_shipdate"), plan)
  }

  test("c3: both dimension joins execute as broadcast hash joins") {
    val plan = finalPlan(CoreQueries.c3(spark, sf()))
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 2, plan)
  }

  test("r3: cohort semi-join runs as a broadcast left-semi") {
    val plan = finalPlan(RefQueries.r3(spark, sf()))
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("c5: window + final sort use at most two exchanges") {
    val plan = finalPlan(CoreQueries.c5(spark, sf()))
    val n = "Exchange".r.findAllIn(plan).size
    // 1 hash exchange for the window partition, 1 range exchange for ORDER BY;
    // ReusedExchange / AQE reads don't add new shuffles
    assert(n <= 3, s"$n exchanges:\n$plan")
  }

  test("c10: both window passes of sessionization share one exchange") {
    val plan = finalPlan(EventQueries.c10(spark, sf()))
    val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(n === 1, s"sessionize should shuffle on user_id exactly once:\n$plan")
  }

  test("r1: PruneExpandBranches drops filtered-out unpivot measures") {
    val df = RefQueries.r1(spark, sf())
    val expandLine = df.queryExecution.optimizedPlan.treeString
      .linesIterator.find(_.contains("Expand")).getOrElse("")
    // only the two surviving measures remain in the Expand projections
    assert(!expandLine.contains("l_extendedprice") && !expandLine.contains("l_tax"), expandLine)
    // and the parquet scan reads only the 4 needed columns
    val plan = finalPlan(df)
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(scanCols.split(",").map(_.split("#")(0).trim).toSet ===
      Set("l_orderkey", "l_linenumber", "l_quantity", "l_discount"), scanCols)
  }

  test("PruneExpandBranches never fires on non-literal or surviving branches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1, 10.0, 20.0)).toDF("id", "a", "b")
      .unpivot(Array(col("id")), Array(col("a"), col("b")), "m", "v")
      .filter(col("v") > 5) // predicate on the value column: no branch is constant-false
    assert(df.count() === 2)
    assert(df.queryExecution.optimizedPlan.treeString.contains("Expand"))
  }

  test("PruneExpandBranches tolerates unevaluable conjuncts (scalar subquery)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Seq((1, 10.0, 20.0)).toDF("id", "a", "b")
      .unpivot(Array(col("id")), Array(col("a"), col("b")), "m", "v")
      .createOrReplaceTempView("pe_unpiv")
    Seq(5.0, 15.0).toDF("x").createOrReplaceTempView("pe_t")
    // the uncorrelated scalar subquery is reference-free but unevaluable;
    // the rule must skip it, not crash the query
    val got = spark.sql(
      "SELECT m FROM pe_unpiv WHERE v > (SELECT avg(x) FROM pe_t) AND m IN ('a','b')")
      .collect()
    // avg = 10.0 -> only (m='b', v=20.0) survives; the point is no crash
    assert(got.map(_.getString(0)).toSeq === Seq("b"))
  }

  test("simhash has no explode: votes are aggregate columns, not 60x rows") {
    // pinned on the pre-checkpoint fingerprint builder: the query's own
    // plan starts at the memoized frame (Scan ExistingRDD)
    val df = DedupQueries.simhashBuild(spark, sf())
    val optimized = df.queryExecution.optimizedPlan.treeString
    // exactly ONE Generate — the tokenizer explode (inherent, 1 row/token);
    // the 60-bit vote fan-out must NOT appear as an explode(sequence(...))
    assert(!optimized.contains("explode(sequence"), optimized)
    assert("Generate".r.findAllIn(optimized).size === 1, optimized)
    val plan = finalPlan(df)
    // hash exchanges for the aggregates only
    val n = "Exchange".r.findAllIn(plan).size
    assert(n <= 3, s"$n exchanges:\n$plan")
  }

  test("withBuckets is a pure projection: zero exchanges over the embeddings scan") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf()))
    val anchors = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("aid"), col("v").as("av"))
    val df = Similarity.withBuckets(vecs, anchors)
    val plan = finalPlan(df)
    assert(!plan.contains("Exchange"), plan)
  }

  test("entry flagship: whole-stage codegen covers the aggregate") {
    val df = SparkEntry.entry(spark)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(plan).isDefined, plan)
  }

  test("sim_lsh_banded: the band pairing is an equi-join, never a cartesian") {
    val plan = finalPlan(SimilarityQueries.lshBanded(spark, sf()))
    // OR-across-bands must execute as the exploded band equi-join, not a
    // cross join with an OR predicate — at 100 TB that is the whole design
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sim_ivfpq_residual: probe is the cell equi-join, never a cartesian") {
    val plan = finalPlan(SimilarityQueries.ivfPqResidual(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sim_lsh_multiprobe: probe expansion joins on the bucket key only") {
    val plan = finalPlan(SimilarityQueries.lshMultiprobe(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dedup_simhash_pairs, dedup_containment, dedup_incremental pair via equi-joins only") {
    for (q <- Seq(DedupQueries.simhashPairs(spark, sf()),
                  DedupQueries.containment(spark, sf()),
                  DedupQueries.incremental(spark, sf()))) {
      val plan = finalPlan(q)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("dedup_simhash_pairs: the band self-join is the only join") {
    // the hash rides the long band rows, so the popcount verify reads both
    // sides' hashes off the candidate row instead of re-joining them
    val joins = DedupQueries.simhashPairs(spark, sf()).queryExecution.optimizedPlan
      .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size === 1, joins.mkString("\n"))
  }

  test("bloom_semi_revenue: pushed dim filter, literal filter carrier, broadcast semi-join") {
    val plan = finalPlan(SketchQueries.bloomSemiRevenue(spark, sf()))
    // the selective dim predicate reaches the orders scan
    assert(plan.contains("EqualTo(o_orderpriority,1-URGENT)"), plan)
    // the filter rides as a constant (a ConstBytes payload) in the
    // predicate — NO join attaches it (a join-produced binary column is
    // re-copied per row by UnsafeRow, defeating the decode-once cache:
    // measured 10s vs 0.3s at sf0.1)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the exact semi-join stays a broadcast hash join (urgent side is small)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    // the fact scan reads only the four needed columns
    val scanCols = "FileScan parquet \\[(l_[^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(scanCols.split(",").map(_.split("#")(0).trim).toSet ===
      Set("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"), plan)
  }

  test("bloom_decontam splits without any join on the probe side but the exact anti-join") {
    val plan = finalPlan(SketchQueries.bloomDecontam(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("LeftAnti"), plan)
  }

  /** The whole `QueryExecution` string of an executed frame — parsed,
    * analyzed, optimized and physical plans, what each AQE stage update
    * re-renders on the driver — stays under 64 KiB, and the constant
    * sketch or filter in it prints as `payload` (its name and byte
    * length), not as hex.
    */
  private def assertBoundedPlan(df: DataFrame, payload: String): Unit = {
    df.collect()
    val qe = df.queryExecution.toString
    assert(qe.length < 64 * 1024, s"plan string is ${qe.length} chars")
    assert(qe.contains(payload), qe)
  }

  // a 128 KiB filter: Bloom.DefaultBits / 8 + the 12-byte header
  private val BloomPayload = "bloom_filter<131084 B"

  test("cms_heavy_hitters: the 4 MiB sketch prints as a bounded payload") {
    // measured at the parent, where the sketch was a Literal: 33.5 M chars
    // at sf0.01 (the width floor 2^17 × depth 4 + the 8-byte header)
    assertBoundedPlan(SketchQueries.cmsHeavyHitters(spark, sf()), "cms_sketch<4194312 B")
  }

  test("bloom_decontam: the filter prints as a bounded payload") {
    assertBoundedPlan(SketchQueries.bloomDecontam(spark, sf()), BloomPayload)
  }

  test("bloom_semi_revenue: the filter prints as a bounded payload") {
    assertBoundedPlan(SketchQueries.bloomSemiRevenue(spark, sf()), BloomPayload)
  }

  test("a clean0-shaped Bloom.decontaminate frame prints its filter as a bounded payload") {
    // the CorpusJob / CorpusStream decontamination stage: train docs
    // against the md5 blocklist of the eval docs
    import org.apache.spark.sql.functions.{col, md5}
    val docs = Tables.documents(spark, sf())
    assertBoundedPlan(graft.functions.Bloom.decontaminate(
      docs.filter(col("doc_id") % 10 =!= 0), md5(col("text")),
      docs.filter(col("doc_id") % 10 === 0).select(md5(col("text")).as("h"))),
      BloomPayload)
  }

  test("sim_lsh_multiprobe: the anchor vectors never print in the plan") {
    // measured when the anchors were inlined literals and a pushed filter
    // repeated the margins under each of the 12 flipped-bit probes:
    // 567,578 chars at sf0.01
    assertBoundedPlan(SimilarityQueries.lshMultiprobe(spark, sf()), "explode(probes")
  }

  test("sim_quant_int8 is a pure map stage: no hash exchange at all") {
    val plan = finalPlan(SimilarityQueries.quantInt8(spark, sf()))
    // only the final ORDER BY range exchange may shuffle
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("sample_topk: one hash exchange for the per-group window") {
    val plan = finalPlan(graft.operators.Sampling.topKByHash(
      Tables.documents(spark, sf()), org.apache.spark.sql.functions.col("lang"),
      org.apache.spark.sql.functions.col("doc_id"), 40, "s4"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
  }

  test("text_tfidf joins on keys only — no cartesian beyond the 1-row N broadcast") {
    val plan = finalPlan(TextQueries.tfidf(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size === 1, plan)
  }

  test("text_chunks: the chunk fan-out is a pure explode — no hash exchange") {
    val plan = finalPlan(TextQueries.chunks(spark, sf()))
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("c19: the WAU range join broadcasts the day list, nothing bigger") {
    val plan = finalPlan(EventQueries.c19(spark, sf()))
    // the non-equi BETWEEN join must be the ONE nested-loop whose build
    // side is the tiny day list; events-sized sides never nested-loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("text_pack_bins: two-phase packing — row window is (lang, bucket)-partitioned, no single-partition stage") {
    val plan = finalPlan(TextQueries.packBins(spark, sf()))
    // the ROW-level running-sum window must be partitioned by BOTH the
    // language and the doc_id-range bucket (two attrs precede the order
    // spec inside windowspecdefinition) — a lang-only partition is the
    // one-task-per-language scale-killer this decomposition removes
    assert(("windowspecdefinition\\(lang#\\d+, __psum_bucket#\\d+L?, " +
      "doc_id#\\d+L? ASC").r.findFirstIn(plan).isDefined, plan)
    // no stage anywhere funnels to a single partition: the offset scan is
    // itself partitioned by lang over the bucket-sized aggregate, and the
    // offsets join back is a broadcast
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 1, plan)
  }

  test("c20_merge_upsert: one equi-join, no cartesian, key-pruned scans") {
    val plan = finalPlan(JoinQueries.mergeUpsert(spark, sf()))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    // the merge is ONE full-outer equi-join (merge/shuffled-hash/broadcast —
    // AQE's pick); orders is scanned for cur + the two change branches
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(plan).size === 1, plan)
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(reads.nonEmpty && reads.forall(r =>
      r.contains("o_orderkey") && !r.contains("o_custkey")), plan)
  }

  test("text_vocab_coverage: corpus-sized work is one agg; windows run on the vocab frame") {
    val q = TextQueries.vocabCoverage(spark, sf())
    val plan = finalPlan(q)
    // token agg partials (2 exchanges from two-phase agg would show as 1
    // hashpartitioning) + single-partition window + final sort
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan)
    // partial aggregation must happen BEFORE the exchange (map-side combine
    // on the exploded tokens): a HashAggregate appears below the exchange
    assert(plan.contains("HashAggregate"), plan)
  }

  test("profile_skew: two-phase key-count aggregates, no join anywhere") {
    val plan = finalPlan(MiscQueries.skewProfile(spark, sf()))
    assert(!plan.contains("Join"), plan)
    // each relation: one exchange for the key groupBy + one single-partition
    // gather for the global stats; the union adds none
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan)
  }

  test("cms_heavy_hitters: literal sketch prefilter, no join, bounded shuffles") {
    // the downstream plan starts at the checkpointed shingle frame (Scan
    // ExistingRDD), so the FileScan shape is pinned on the pre-checkpoint
    // builder below; here: the sketch rides as a constant (a ConstBytes
    // payload) in a map-side Filter — NO join attaches it, and the only
    // shuffles are the candidate groupBy + final ORDER BY
    val plan = finalPlan(SketchQueries.cmsHeavyHitters(spark, sf()))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("cms_query"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan)
  }

  test("cms_heavy_hitters shingle stream: shingles the shared tokens, no shuffle") {
    // the stream explodes off the memoized shingle frame; its builder
    // shingles the memoized token frame without a shuffle or a second
    // parquet scan, and the token frame's one scan is pinned here too
    val plan = finalPlan(DedupQueries.shingleFrameBuild(spark, sf()))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("FileScan"), plan)
    assertTokFrameScan()
  }

  test("dedup_spans: hash-only shuffles downstream, minimal scan upstream") {
    val plan = finalPlan(DedupQueries.spans(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the pre-checkpoint window builder reads the memoized token frame
    // with no shuffle; the scan shape is pinned on that frame's builder
    val wPlan = finalPlan(DedupQueries.spanWindows(spark, sf()))
    assert(!wPlan.contains("Exchange"), wPlan)
    assertTokFrameScan()
  }

  test("dedup_spans_minimized: selection is exchange-free; shuffles see only the winnowed sample") {
    // the whole point of winnowing: the per-doc native-expression pass
    // emits the sampled fingerprints BEFORE any exchange, so the only
    // shuffles in the full query are over the ~2/(w+1)-density stream
    val wPlan = finalPlan(DedupQueries.winnowedWindows(spark, sf()))
    assert(!wPlan.contains("Exchange"), wPlan)
    assert(wPlan.contains("winnow_spans"), wPlan)
    assertTokFrameScan()
    val plan = finalPlan(DedupQueries.spansMinimized(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dedup_spans_cut: equi-joins only; cut side never cartesians the corpus") {
    val plan = finalPlan(DedupQueries.spansCut(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("layout_zvalue: single aggregation over a two-column scan") {
    val plan = finalPlan(MiscQueries.layoutZvalue(spark, sf()))
    assert(!plan.contains("Join"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan)
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(scanCols.split(",").map(_.split("#")(0).trim).toSet ===
      Set("o_orderkey", "o_custkey"), plan)
  }

  test("dedup_incremental_stored: corpus band probe reads bucketed state, no corpus-side exchange") {
    val st = DedupQueries.corpusState(spark, sf())
    // pin the sort-merge shape (the tiny fixture would broadcast, which
    // trivially has no exchange and would mask a missing bucketing)
    val cand = DedupQueries.storedCandidateJoin(spark, sf(), st, merge = true)
    val plan = finalPlan(cand)
    // the corpus side is a bucketed scan ...
    assert(plan.contains("Bucketed: true"), plan)
    assert(plan.contains("SelectedBucketsCount"), plan)
    // ... and NO exchange touches the corpus (b_-prefixed) side: the only
    // shuffles are the new batch's signature groupBy + its move into the
    // corpus's bucket layout — the corpus never moves
    assert(!plan.contains("Exchange hashpartitioning(b_band_key"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan)
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("mm_phash_stored: media band probe reads bucketed state, no corpus-side exchange") {
    // pin the sort-merge shape (the tiny fixture would broadcast, which
    // trivially has no exchange and would mask a missing bucketing)
    // restore the CAPTURED value, not a hard-coded default: a literal here
    // would silently change config for every later test if the suite's
    // session default ever differs
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = finalPlan(
        graft.queries.MultimodalQueries.phashStored(spark, sf()))
      // the standing fingerprint side is a bucketed scan on band_key...
      assert(plan.contains("Bucketed: true"), plan)
      // ... and NO exchange touches it: the only band-key partitioning is
      // the probe batch's move into the bucket layout (b_band_key comes
      // straight off the bucketed scan's band_key)
      assert("Exchange hashpartitioning\\(b_band_key".r.findAllIn(plan).isEmpty, plan)
      assert("Exchange hashpartitioning\\(a_band_key".r.findAllIn(plan).size <= 1, plan)
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("graph_domain_rank_stored: edge partial re-aggregation is exchange-free off the bucketed state") {
    val plan = finalPlan(
      graft.queries.GraphQueries.storedDomainEdges(spark, sf()))
    // the per-epoch (src, dst, w) partials are bucketed on src; hash
    // partitioning on src satisfies the (src, dst) grouping, so summing
    // the standing state back to the edge relation moves NO data
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("sample_weighted selects its top-k as TakeOrderedAndProject, not a global sort") {
    // A-ES selection must be the per-partition-top-k + driver-merge
    // operator: a full Sort would shuffle the whole corpus to rank 50 rows
    val plan = finalPlan(
      graft.queries.SamplingQueries.weightedSample(spark, sf()))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("dedup_spans_incremental: span probe reads bucketed state, no corpus-side exchange") {
    val st = DedupQueries.corpusState(spark, sf())
    // forced sort-merge for the same reason as the band probe pin: the
    // tiny fixture would broadcast, which has no exchange regardless of
    // bucketing and would make the assertion vacuous
    val plan = finalPlan(DedupQueries.storedSpanJoin(spark, sf(), st, merge = true))
    assert(plan.contains("Bucketed: true"), plan)
    assert(plan.contains("SortMergeJoin") && plan.contains("LeftSemi"), plan)
    // exactly ONE exchange: the batch's own winnowed rows shuffling into
    // the corpus's bucket layout — a second would mean the stored table
    // is being re-partitioned, i.e. the bucketing is not being used
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dedup_clusters_stored: band self-join reads bucketed state with ZERO exchanges") {
    // both sides of the candidate self-join are the same band_key-bucketed
    // table — co-partitioned by construction, so unlike the incremental
    // probe (whose new batch must shuffle into the bucket layout) the
    // full re-clustering pair formation is entirely exchange-free
    val plan = finalPlan(DedupQueries.storedSelfJoin(spark, sf(), merge = true))
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("c21_scd2: both windows share ONE user_id exchange and sort") {
    val plan = finalPlan(EventQueries.c21(spark, sf()))
    // lag-collapse and version/lead windows have identical (partition,
    // order) specs: one hashpartitioning(user_id) exchange + the final
    // rangepartitioning for ORDER BY — 100 TB of events shuffles once
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert("WindowExec|Window".r.findFirstIn(plan).isDefined, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("profile_anomaly: per-group stats broadcast back; events scan reads two columns") {
    val plan = finalPlan(MiscQueries.profileAnomaly(spark, sf()))
    // the med/mad frames are group-count-sized: every stats join must
    // broadcast (the deviations subtree plans twice — once under the MAD
    // aggregate, once under the final count — so the med join appears in
    // both copies; what matters is that NO stats join shuffles the events)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val read = "ReadSchema: struct<[^>]*>".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("event_type") && read.contains("value")
      && !read.contains("props"), plan)
  }

  test("text_bigram_logprob: corpus-sized work is explode + combines; no cartesian beyond 1-row V") {
    val plan = finalPlan(TextQueries.bigramLogprob(spark, sf()))
    // the vocab-size scalar rides a 1-row broadcast; bigram-type joins are
    // hash equi-joins — nothing may nested-loop a corpus-sized side
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("sim_pq_ann: encoding is a literal-codebook narrow projection — no join, no exchange") {
    import org.apache.spark.sql.functions.col
    val vecs = graft.operators.Similarity.prepared(Tables.embeddings(spark, sf()))
      .select(col("vec_id"), col("v"))
    val cbs = graft.operators.Similarity.pqCodebooks(vecs)
    val enc = finalPlan(graft.operators.Similarity.pqEncode(vecs, cbs))
    assert(!enc.contains("Exchange") && !enc.contains("Join"), enc)
    // the full query may broadcast the 10-row query side (sanctioned
    // similarity cross join) but must never cartesian or sort-merge
    val plan = finalPlan(SimilarityQueries.pqAnn(spark, sf()))
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
  }

  test("sim_kmeans assignment is a narrow projection: no exchange before the cluster agg") {
    import org.apache.spark.sql.functions.col
    val vecs = graft.operators.Similarity.prepared(Tables.embeddings(spark, sf()))
      .select(col("vec_id"), col("v"))
    val cents = graft.operators.Similarity.kmeansFit(vecs, k = 5, rounds = 0)
    val plan = finalPlan(graft.operators.Similarity.kmeansAssign(vecs, cents))
    // centroids ride as literals: assignment adds NO exchange of any kind
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("c24: ONE salted join on the widened key; census stays out of the plan") {
    val plan = finalPlan(JoinQueries.saltedJoin(spark, sf()))
    // the whole point: the shuffle key carries the salt, so a hot
    // orderkey spreads across S partitions (cold keys ride salt 0)...
    assert("SortMergeJoin \\[l_orderkey#\\d+L?, __salt#\\d+L?\\]".r
      .findFirstIn(plan).isDefined, plan)
    // ...and the round-12 job diet holds: ONE join total, one explode
    // (the conditional ×S/×1 dim replication), each side scanned once,
    // and — on the fixture's ≤ InlineHotKeys census — no membership
    // joins and no census aggregate anywhere in the plan
    assert("SortMergeJoin".r.findAllIn(plan).size === 1, plan)
    assert("Generate explode".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("HashAggregate [l_orderkey"), plan)
  }

  test("ad-hoc IVF family probes the persisted index: no corpus exchange, no rebuild") {
    for ((name, df) <- Seq(
        "sim_ivf_ann" -> SimilarityQueries.ivfAnn(spark, sf()),
        "sim_ivf_filtered" -> SimilarityQueries.ivfFiltered(spark, sf()),
        "sim_ivf_probe2" -> SimilarityQueries.ivfProbe2(spark, sf()))) {
      val plan = finalPlan(df)
      // the postings come from the persisted snapshot, not an in-plan
      // assignment (round-11 weak #1: an ad-hoc ANN query must probe,
      // never build)
      assert(plan.contains("graft_ivf_full"), s"$name reads no stored index:\n$plan")
      // the probe side broadcasts; the corpus postings never repartition
      assert(!"Exchange hashpartitioning\\(cell#\\d+L".r.findFirstIn(plan).isDefined,
        s"$name shuffles the corpus postings:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name: $plan")
    }
    // the PQ pair additionally reads its persisted code postings
    for ((name, tbl, df) <- Seq(
        ("sim_ivfpq_ann", "graft_pq_codes", SimilarityQueries.ivfPqAnn(spark, sf())),
        ("sim_ivfpq_residual", "graft_pq_rescodes", SimilarityQueries.ivfPqResidual(spark, sf())))) {
      val plan = finalPlan(df)
      assert(plan.contains(tbl), s"$name reads no stored codes:\n$plan")
      assert(!"Exchange hashpartitioning\\(cell#\\d+L".r.findFirstIn(plan).isDefined,
        s"$name shuffles the code postings:\n$plan")
    }
  }

  test("sim_sparse_topk: inverted-index join, no doc-level cross join") {
    val plan = finalPlan(SimilarityQueries.sparseTopk(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("c25: row-level running sum windows are bucket-partitioned, never single-partition") {
    val plan = finalPlan(AnalyticsQueries.runningTotal(spark, sf()))
    // the row-level window is PARTITIONED by the bucket (partition attr
    // precedes the order spec inside windowspecdefinition)
    assert("Window \\[sum\\(__psum_v#\\d+L?\\) windowspecdefinition\\(__psum_bucket#\\d+, ".r
      .findFirstIn(plan).isDefined, plan)
    // exactly one SinglePartition exchange, and it feeds from the
    // per-bucket AGGREGATE (rows = bucket count), never the row-level scan
    assert("Exchange SinglePartition".r.findAllIn(plan).size === 1, plan)
    assert("Exchange SinglePartition[^\\n]*\\n[^\\n]*HashAggregate".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("dedup_prefix_pairs: candidate join is a prefix-token equi-join, no nested loop") {
    val plan = finalPlan(DedupQueries.prefixPairs(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sim_ivf_stored: probe reads the bucketed cell index, corpus side never shuffles") {
    val plan = finalPlan(SimilarityQueries.ivfStored(spark, sf()))
    // the standing index arrives pre-bucketed on `cell` ...
    assert(plan.contains("Bucketed: true"), plan)
    // ... and no exchange repartitions it for the probe join (the batch
    // side may shuffle or broadcast; the corpus side must not move)
    assert(!"Exchange hashpartitioning\\(cell#\\d+L".r.findFirstIn(plan).isDefined
           || !plan.contains("SortMergeJoin"), plan)
    // (the seed-assignment crossJoin against the broadcast 10-row seed set
    // is the sanctioned literal-broadcast pattern and MAY plan as a
    // BroadcastNestedLoopJoin; the cell probe itself must stay an equi-join)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("top-k-per-group windows keep Spark's rank-limit pushdown (WindowGroupLimit)") {
    // row_number()<=k filters rewrite to WindowGroupLimit: a PARTIAL limit
    // runs map-side before the shuffle, so each partition ships at most k
    // rows per group instead of every row — the difference between a
    // bounded exchange and a full sort of the fact table at 100 TB. Pin it
    // for the top-k family: an expression that blocks the rewrite (e.g. a
    // second window function in the same select) would silently regress.
    for ((name, df) <- Seq(
        "sim_knn" -> SimilarityQueries.knn(spark, sf()),
        "sample_topk" -> SamplingQueries.defs("sample_topk")(spark, sf())))
      assert(finalPlan(df).contains("WindowGroupLimit"),
        s"$name lost the WindowGroupLimit rewrite")
  }

  test("sim_ivfpq_ann: cell probe is an equi-join, never a cartesian scan") {
    val plan = finalPlan(SimilarityQueries.ivfPqAnn(spark, sf()))
    // the seed-assignment crossJoin against the broadcast 10-row seed set
    // may plan as BroadcastNestedLoopJoin (sanctioned literal-broadcast
    // pattern); the cell probe itself must hash on `cell`
    assert(!plan.contains("CartesianProduct"), plan)
    assert("hashpartitioning\\(cell#\\d+".r.findFirstIn(plan).isDefined
           || plan.contains("BroadcastHashJoin"), plan)
  }

  test("c23: binned range join is an equi-join, not a nested loop") {
    val plan = finalPlan(JoinQueries.rangeJoin(spark, sf()))
    // the whole point of binning: the range-only predicate would otherwise
    // force BroadcastNestedLoopJoin (O(n²), single-node broadcast)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
  }

  // profile_median_scalable's no-global-sort contract now lives in
  // OrderStatsSpec (the selection loop runs driver-side over bounded
  // histograms, so there is no single plan to audit; the heavy-ties pin
  // asserts no stage ever sorts more than the cap).

  test("c29_funnel_steps: step transitions are user-keyed equi-joins, no cartesian") {
    val plan = finalPlan(EventQueries.c29(spark, sf()))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // two step-transition joins (view→click, click→purchase), each a
    // user_id equi-join of some shape — never a nested loop
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(plan).size >= 2, plan)
  }

  test("profile_contamination: the eval-hash relation broadcasts, the corpus never shuffles onto it") {
    val plan = finalPlan(MiscQueries.contamination(spark, sf()))
    // the distinct eval-hash side is eval-sized — it must ride a
    // broadcast join; a SortMergeJoin here would shuffle the corpus on
    // the text hash
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("sample_dsir: model joins broadcast; selection is a TakeOrdered, not a sort") {
    val plan = finalPlan(SamplingQueries.dsirSample(spark, sf()))
    // the 256-row λ relation must ride a broadcast, never shuffle the
    // corpus-grain tf frame onto the bucket key
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // Gumbel top-k is per-partition top-k merged on the driver
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("text_quality_classifier: scoring joins the weight relation broadcast") {
    val plan = finalPlan(TextQueries.qualityClassifier(spark, sf()))
    // the final scoring stage (training rounds are checkpoint-truncated):
    // 2^b weight rows broadcast against the feature frame, never a shuffle
    // of the corpus side onto the bucket key
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("dedup_decontam_fuzzy: the cross-split probe is a banded equi-join, never a cartesian") {
    val plan = finalPlan(DedupQueries.decontamFuzzy(spark, sf()))
    // train×eval must pair through the (band_idx, band_val) equi-join —
    // a cross join with a similarity predicate is the all-pairs shape
    // this probe exists to avoid at 100 TB
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("fuzzy decontamination tier: no vocabulary numbering, bounded exchanges") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val plan = finalPlan(graft.operators.Dedup.fuzzyContaminatedIds(
      docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text"))
    // the bitset verify's dense token numbering (row_number + offsets
    // windows, bit_or word masks, map_from_entries) must not come back:
    // the verify intersects the sets each candidate already joined to
    for (op <- Seq("Window", "bit_or", "map_from_entries"))
      assert(!plan.contains(op), s"$op in\n$plan")
    // measured at sf0.001: three broadcasts (eval band rows, train sets,
    // eval sets) and the hash exchange of the final distinct
    val n = "Exchange".r.findAllIn(plan).size
    assert(n === 4, s"$n exchanges:\n$plan")
  }

  test("text_bm25_topk: the inverted-index probe joins on keys only") {
    val plan = finalPlan(TextQueries.bm25TopK(spark, sf()))
    // query terms × postings must be the token equi-join (the probe-sized
    // side rides a broadcast); dl/idf joins are key joins too
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("text_boilerplate: the boilerplate type relation broadcasts into the flag join") {
    val plan = finalPlan(TextQueries.boilerplate(spark, sf()))
    // the df>=5 TYPE relation is vocabulary-sized — it must broadcast;
    // re-shuffling the corpus shingle stream onto g twice is the failure
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
