package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._


/** Scale machinery: salted aggregation/join equivalence, and bucketed
  * tables giving an exchange-free co-located join.
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-phase aggregate equals the direct groupBy") {
    val ev = Tables.events(spark, sf())
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .withColumn("total", round($"total", 2))
      .orderBy("event_type").collect().toSeq
    val salted = Skew.saltedSumCount(ev, Seq("event_type"), "value", salts = 16)
      .withColumn("total", round($"total", 2))
      .orderBy("event_type").collect().toSeq
    assert(salted === direct)
  }

  test("CC mega-star: hub min is two-phase (partial_min below the exchange), completes flat") {
    // the pathological boilerplate cluster the verdict worries about: one
    // hub node sharing an edge with every other node — the worst reduce-key
    // concentration star contraction can see. Spark plans the neighbour min
    // partial+final, so the exchange carries at most one row per key per
    // map partition (the salted two-phase min with partition id as salt);
    // pin that shape, then prove the real thing converges in one round.
    import graft.operators.Dedup
    val n = 200000L
    val edges = spark.range(1, n + 1).select(lit(0L).as("a"), $"id".as("b"))
    val nodes = spark.range(0, n + 1).select($"id".as("doc_id"))
    val mPlan = {
      val m = Dedup.neighbourMin(edges.select($"a".as("src"), $"b".as("dst")))
      m.collect()
      m.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    assert(mPlan.contains("partial_min"), mPlan)
    assert("partial_min".r.findAllIn(mPlan).size > 0 &&
      mPlan.indexOf("partial_min") > mPlan.indexOf("Exchange"), // bottom-up print: partial below
      mPlan)
    val t0 = System.nanoTime()
    // pin the DISTRIBUTED contraction round: cap 0 disables the r13
    // hybrid union-find finish, so this stays the mega-star flat-completion
    // proof for the path a corpus-scale graph actually runs
    spark.conf.set("spark.graft.cc.localEdgeCap", "0")
    val cc = try Dedup.connectedComponents(edges, nodes, "doc_id")
      finally spark.conf.unset("spark.graft.cc.localEdgeCap")
    val comps = cc.select("comp").distinct().as[Long].collect().toSeq
    val secs = (System.nanoTime() - t0) / 1e9
    assert(comps === Seq(0L))
    assert(cc.count() === n + 1)
    // a mega-star collapses in ONE contraction round; generous local[4]
    // wall budget so only a pathological (quadratic / per-key-funnelled)
    // regression trips it
    assert(secs < 120.0, s"mega-star CC took ${secs}s")
  }

  test("salted join equals the plain equi-join") {
    val ev = Tables.events(spark, sf()).select(col("user_id"), col("value"))
    val dim = Tables.events(spark, sf())
      .select(col("user_id")).distinct()
      .withColumn("grp", pmod(col("user_id"), lit(3)))
    val plain = ev.join(dim, "user_id").groupBy("grp")
      .agg(count(lit(1)).as("n")).orderBy("grp").collect().toSeq
    val salted = Skew.saltedJoin(ev, dim, "user_id", salts = 4).groupBy("grp")
      .agg(count(lit(1)).as("n")).orderBy("grp").collect().toSeq
    assert(salted === plain)
  }

  test("lshCandidatePairs maxBucket drops hot-bucket pairs, keeps the rest") {
    import graft.operators.Dedup
    // 5 identical docs (hot bucket) + 2 identical docs (small bucket)
    val docs = ((0 to 4).map(i => (i.toLong, "the same boilerplate text body here")) ++
                Seq((10L, "a rare unusual document pair"), (11L, "a rare unusual document pair")))
      .toDF("doc_id", "text")
    val toks = Dedup.distinctTokenRows(docs, "doc_id", "text")
    val bands = Dedup.minhashBands(Dedup.minhashSignatures(toks, "doc_id", 16), "doc_id", 16, 4)
    val uncapped = Dedup.lshCandidatePairs(bands, "doc_id", 4).count()
    val capped = Dedup.lshCandidatePairs(bands, "doc_id", 4, maxBucket = Some(3))
      .as[(Long, Long)].collect().toSet
    assert(uncapped === 10L + 1L) // C(5,2) hot pairs + 1 small pair
    assert(capped === Set(10L -> 11L)) // hot bucket suppressed, small kept
  }

  test("maxBucket keeps pairs that share a hot band AND a small band") {
    import graft.operators.Dedup
    // hand-built bands: docs 1,2 share hot band0 (with 8 others) and also a
    // 2-doc band1 — the pair must survive via band1 after band0 is nulled
    val rows = (1L to 10L).map { i =>
      (i, "HOT", if (i <= 2) "RARE" else s"uniq$i")
    }
    val bands = rows.toDF("doc_id", "band0", "band1")
    val capped = Dedup.lshCandidatePairs(bands, "doc_id", 2, maxBucket = Some(5))
      .as[(Long, Long)].collect().toSet
    assert(capped === Set(1L -> 2L))
  }

  test("connectedComponents: chains, separate components, isolated nodes") {
    import graft.operators.Dedup
    // a 200-node path stresses the round budget: star contraction with map
    // jumping must halve the chain per round (~8 rounds), not walk it hop
    // by hop (199 rounds)
    val n = 200L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("a", "b")
    val chainNodes = (0L until n).toDF("doc_id")
    val cc = Dedup.connectedComponents(chain, chainNodes, "doc_id")
    assert(cc.select("comp").distinct().as[Long].collect().toSeq === Seq(0L))
    assert(cc.count() === n)

    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val got = Dedup.connectedComponents(pairs, nodes, "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))

    // no edges at all: every node is its own component
    val lone = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), Seq(5L, 6L).toDF("doc_id"), "doc_id")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(lone === Seq(5L -> 5L, 6L -> 6L))
  }

  test("hybrid local finish equals the pure distributed contraction") {
    import graft.operators.Dedup
    // two chains + an isolated node; cap 3 forces ONE distributed round
    // before the union-find takes the (contracted, now 3-edge-or-fewer)
    // remainder — exercising the mid-loop handoff, not just the cap-0 /
    // cap-huge extremes
    val pairs = ((0L until 7L).map(i => (i, i + 1)) ++
      (20L until 24L).map(i => (i, i + 1))).toDF("a", "b")
    val nodes = ((0L to 7L) ++ (20L to 24L) :+ 99L).toDF("doc_id")
    def run(cap: String): Seq[(Long, Long)] = {
      spark.conf.set("spark.graft.cc.localEdgeCap", cap)
      try Dedup.connectedComponents(pairs, nodes, "doc_id")
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      finally spark.conf.unset("spark.graft.cc.localEdgeCap")
    }
    val distributed = run("0")
    assert(run("3") === distributed)           // mid-loop handoff
    assert(run(s"${1L << 20}") === distributed) // immediate local finish
    assert(distributed.toMap.apply(7L) === 0L)
    assert(distributed.toMap.apply(99L) === 99L)
  }

  test("two-level union-find (per-partition forests) equals the single-pass map") {
    import graft.operators.Dedup
    // edges deliberately SPREAD over many partitions so every partition
    // contracts a different fragment of each component — the map-side
    // spanning-forest pass must leave the (id -> component-minimum) map
    // bit-identical to a one-partition pass over the raw edges
    val rnd = new scala.util.Random(7)
    val edges = (0 until 5000).map { _ =>
      val a = rnd.nextInt(800).toLong; val b = rnd.nextInt(800).toLong; (a, b)
    }.filter { case (a, b) => a != b }
    val spread = edges.toDF("a", "b").repartition(13)
    val one = edges.toDF("a", "b").coalesce(1)
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.unionFindMap(df).as[(Long, Long)].collect().toMap
    assert(m(spread) === m(one))
    // string ids take the generic (UTF-8-ordered) pass — pin it too
    val sEdges = edges.map { case (a, b) => (s"n$a", s"n$b") }
    def ms(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      Dedup.unionFindMap(df).as[(String, String)].collect().toMap
    assert(ms(sEdges.toDF("a", "b").repartition(13)) ===
      ms(sEdges.toDF("a", "b").coalesce(1)))
  }

  test("narrow LSH path (many bands) yields exactly the wide first-match pair set") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf())
    val toks = Dedup.distinctTokenRows(docs, "doc_id", "text")
    val bands = Dedup.minhashBands(Dedup.minhashSignatures(toks, "doc_id", 16), "doc_id", 16, 4)
    val wide = Dedup.lshCandidatePairs(bands, "doc_id", 4)
      .as[(Long, Long)].collect().toSet
    val narrow = Dedup.lshCandidatePairs(bands, "doc_id", 4, maxWideBands = 0)
      .as[(Long, Long)].collect().toSet
    assert(wide.nonEmpty)
    assert(narrow === wide)
    // the capped variants must agree too (hot bands nulled before pairing)
    val wideCap = Dedup.lshCandidatePairs(bands, "doc_id", 4, maxBucket = Some(3))
      .as[(Long, Long)].collect().toSet
    val narrowCap = Dedup.lshCandidatePairs(bands, "doc_id", 4, maxBucket = Some(3), maxWideBands = 0)
      .as[(Long, Long)].collect().toSet
    assert(narrowCap === wideCap)
  }

  test("bitset jaccard survives with broadcast joins disabled (no forced vocab broadcast)") {
    import graft.operators.Dedup
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, sf())
      val toks = Dedup.distinctTokenRows(docs, "doc_id", "text")
      val bands = Dedup.minhashBands(Dedup.minhashSignatures(toks, "doc_id", 16), "doc_id", 16, 4)
      val cand = Dedup.lshCandidatePairs(bands, "doc_id", 4)
      val sets = Dedup.distinctTokenSets(docs, "doc_id", "text")
      val bitset = Dedup.jaccardVerifyBitset(cand, toks, "doc_id")
        .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
      val plain = Dedup.jaccardVerify(cand, sets, "doc_id")
        .orderBy("a", "b").as[(Long, Long, Double)].collect().toSeq
      assert(bitset.nonEmpty)
      assert(bitset === plain) // exact: both are int/int divisions
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // one hot key dominating a sort-merge join; thresholds lowered so the
    // skew is visible at test scale. AQE must mark the join skew=true.
    val conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val skewed = spark.range(200000)
        .select((col("id") % 1000).as("k"), col("id").as("payload"))
        .withColumn("k", when(col("k") < 500, lit(0L)).otherwise(col("k"))) // hot key 0: half the rows
      val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = skewed.join(dim, "k").groupBy(lit(1).as("one")).agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("skew=true"), plan)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("partitioned reads prune at the scan: day predicate is a PartitionFilter") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-ppr").toString
    Tables.events(spark, sf())
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(s"$dir/t")
    val read = spark.read.parquet(s"$dir/t")
    val days = read.select("day").distinct().orderBy("day").collect().map(_.getDate(0))
    assert(days.length > 1, "fixture must span multiple days for pruning to mean anything")
    val one = read.filter(col("day") === lit(days(days.length / 2)))
    one.collect()
    val plan = one.queryExecution.executedPlan.toString
    // the predicate must prune at partition-metadata level (PartitionFilters
    // on the scan), not ride along as a per-row data filter over every file
    assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(plan).isDefined, plan)
    assert(!"PushedFilters: \\[[^\\]]*day".r.findFirstIn(plan).isDefined, plan)
  }

  test("bucketed tables join without any exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf()).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("b_orders")
      Tables.lineitem(spark, sf()).select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      // co-located bucketed join: SortMergeJoin with NO shuffle before it
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!"Exchange hashpartitioning\\((o_orderkey|l_orderkey)".r
        .findFirstIn(plan).isDefined, plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("sharePairs flag yields bit-identical results for every share-enabled query") {
    // EVERY query the bench-only memo family reroutes (tokFrame /
    // shingleFrame / corpusShingleMasks / simhashFrame / spanWindows /
    // bpeTrain / cdcFrame / dsirFeatures / bucketedVecs / minhash
    // pairs+bands) must produce the same rows flag-on and flag-off — the
    // bench path of a memoized query is otherwise never correctness-
    // checked, because Verify runs with the flag off.
    val qs = Seq(
      "dedup_minhash_pairs", "dedup_clusters", "dedup_minhash_sigs",
      "dedup_incremental", "dedup_decontam_fuzzy", "dedup_decontam_purge",
      "dedup_ngram_pairs", "dedup_containment", "dedup_prefix_pairs",
      "text_boilerplate",
      "dedup_spans", "dedup_spans_minimized", "profile_eval_overlap",
      "dedup_simhash", "dedup_simhash_pairs",
      "dedup_cdc_chunks", "dedup_cdc_incremental",
      "text_bpe_merges", "text_bpe_encode", "text_pack_bins_bpe",
      "text_bpe_fertility",
      "text_quality_classifier", "text_quality_tiers", "sample_token_budget",
      "sample_dsir", "sample_dsir_stored",
      "sim_lsh_ann", "sim_lsh_multiprobe",
      // the round-9 tfFrame/tokFrame/shingleFrame reroutes of the
      // one-pass text tier
      "text_tfidf", "text_unigram_logprob", "text_entropy",
      "text_repetition", "text_bm25_topk", "cms_heavy_hitters",
      // the round-9 multimodal phash family (shared aHash frame memo)
      "mm_phash_pairs", "mm_phash_clusters", "mm_phash_incremental",
      "mm_phash_stored",
      // round-9 stored graph maintenance (batch bands memo feeds the
      // edge-state advance)
      "graph_domain_rank_stored",
      // the round-13 memos: domain edge frame + node count, PQ code
      // frame, bigram LM, scored classifier batch, stored verified edges
      "graph_domain_rank", "graph_domain_communities", "graph_triangles",
      "sim_pq_ann", "sim_pq_rerank", "text_bigram_logprob", "text_clf_eval",
      "dedup_clusters_stored")
    def run(q: String) = SparkEntry.queries(q)(spark, sf())
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val off = qs.map(q => q -> run(q)).toMap
    spark.conf.set("spark.graft.dedup.sharePairs", "true")
    try qs.foreach { q => assert(run(q) === off(q), s"sharePairs changed $q") }
    finally spark.conf.unset("spark.graft.dedup.sharePairs")
  }
}
