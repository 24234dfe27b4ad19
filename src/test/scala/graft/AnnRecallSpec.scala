package graft

import graft.operators.Similarity
import graft.queries.SimilarityQueries
import org.apache.spark.sql.functions._

/** The ANN scale paths exist to trade recall for pruning; this suite pins
  * BOTH sides of that trade at sf0.01 so a regression in either direction
  * fails: recall@3 against the brute-force baseline stays above a floor,
  * and the candidate set each query examines stays well below the corpus.
  */
class AnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private def truth(): Map[Long, Set[Long]] = {
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf("sf0.01")))
    val queries = vecs.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    Similarity.bruteForceTopK(vecs, queries, 3)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => (q, xs.map(_._2).toSet) }
  }

  private def recallOf(ann: Seq[(Long, Long)], truth: Map[Long, Set[Long]]): Double = {
    val got = ann.groupBy(_._1).map { case (q, xs) => (q, xs.map(_._2).toSet) }
    val hits = truth.map { case (q, t) => (got.getOrElse(q, Set.empty) & t).size }.sum
    hits.toDouble / truth.values.map(_.size).sum
  }

  test("LSH family and IVF ANN recall@3 vs brute force stays above the floors") {
    val t = truth()
    def got(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id").as[(Long, Long)].collect().toSeq
    val lsh = got(SimilarityQueries.lshAnn(spark, sf("sf0.01")))
    val mp = got(SimilarityQueries.lshMultiprobe(spark, sf("sf0.01")))
    val banded = got(SimilarityQueries.lshBanded(spark, sf("sf0.01")))
    val ivf = got(SimilarityQueries.ivfAnn(spark, sf("sf0.01")))
    val ivf2 = got(SimilarityQueries.ivfProbe2(spark, sf("sf0.01")))
    val (rLsh, rMp, rBanded, rIvf) =
      (recallOf(lsh, t), recallOf(mp, t), recallOf(banded, t), recallOf(ivf, t))
    val rIvf2 = recallOf(ivf2, t)
    // Measured on this fixture (near-isotropic embeddings: top-3 neighbours
    // sit at ~70°, so each hyperplane bit disagrees with a true neighbour
    // with p≈0.39):
    //   - single-probe 8-bit LSH = 0.33: over-partitioned by contract.
    //   - margin multi-probe (flip subsets of the 3 weakest bits, 8 probes)
    //     = 0.43: strictly better, but ANY single-code probing is capped by
    //     the affordable Hamming ball when p is this high (probing half the
    //     256-bucket space still only reaches ~0.7).
    //   - banded OR-amplification (4 bands x 2 centered bits) = 1.0: the
    //     production LSH path — (1-p)^2 per band, 1-(1-.37)^4 ≈ 0.84 expected,
    //     tunable to any recall target by (bandBits, nBands).
    //   - IVF (10 cells) = 1.0 — queries coincide with seeds on this fixture.
    assert(rIvf >= 0.8, s"IVF recall@3 = $rIvf")
    assert(rBanded >= 0.9, s"banded LSH recall@3 = $rBanded")
    assert(rMp >= 0.4, s"multi-probe LSH recall@3 = $rMp")
    assert(rMp >= rLsh, s"multi-probe ($rMp) must not lose recall vs single-probe ($rLsh)")
    assert(rLsh >= 0.25, s"LSH recall@3 = $rLsh")
    // nprobe=2 probes a superset of cells per query, so it may only add
    // candidates — recall is monotone in nprobe by construction
    assert(rIvf2 >= rIvf, s"IVF nprobe=2 ($rIvf2) lost recall vs nprobe=1 ($rIvf)")
    info(s"LSH recall@3 = $rLsh, multi-probe = $rMp, banded = $rBanded, " +
      s"IVF = $rIvf, IVF probe2 = $rIvf2")
  }

  test("PQ ADC recall floor; exact rerank of the ADC shortlist recovers recall") {
    import org.apache.spark.sql.expressions.Window
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf("sf0.01")))
      .select($"vec_id", $"v")
    val queries = vecs.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"v".as("qv"))
    val t5 = Similarity.bruteForceTopK(vecs, queries, 5).select("qid", "vec_id")
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => (q, xs.map(_._2).toSet) }
    def recall5(xs: Seq[(Long, Long)]): Double = {
      val got = xs.groupBy(_._1).map { case (q, ys) => (q, ys.map(_._2).toSet) }
      t5.map { case (q, t) => (got.getOrElse(q, Set.empty[Long]) & t).size }.sum
        .toDouble / t5.values.map(_.size).sum
    }
    val pure = recall5(SimilarityQueries.pqAnn(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSeq)
    // the production recipe: ADC top-20 shortlist, then exact cosine top-5
    // over the shortlist only — PQ does the memory compression, the exact
    // pass does the precision. Lloyd-refined codebooks (round 8) lifted
    // pure ADC 0.32 -> 0.38 and the rerank 0.54 -> 0.56; the remaining
    // knob is shortlist size, not the code length
    val cbs = Similarity.pqCodebooks(vecs)
    val codes = Similarity.pqEncode(vecs, cbs)
    val codeCols = (0 until Similarity.PqM).map(m => col(s"c$m"))
    val scored = codes.crossJoin(broadcast(queries))
      .withColumn("adc", Similarity.pqAdc($"qv", codeCols, cbs))
    val wa = Window.partitionBy("qid").orderBy(asc("adc"), asc("vec_id"))
    val ws = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    val reranked = recall5(scored
      .withColumn("rn", row_number().over(wa)).filter($"rn" <= 20)
      .select($"qid", $"vec_id",
        round(Similarity.cosineNative($"v", $"qv"), 4).as("sim"))
      .withColumn("rnk", row_number().over(ws)).filter($"rnk" <= 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSeq)
    assert(pure >= 0.3, s"pure ADC recall@5 = $pure")
    assert(reranked >= pure, s"rerank ($reranked) must not lose recall vs ADC ($pure)")
    assert(reranked >= 0.5, s"reranked recall@5 = $reranked")
    info(s"PQ recall@5: pure ADC = $pure, ADC-20 + exact rerank = $reranked")
  }

  test("IVF-PQ composed ANN: recall@5 floor vs brute force") {
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf("sf0.01")))
      .select($"vec_id", $"v")
    val queries = vecs.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"v".as("qv"))
    val t5 = Similarity.bruteForceTopK(vecs, queries, 5).select("qid", "vec_id")
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => (q, xs.map(_._2).toSet) }
    val got = SimilarityQueries.ivfPqAnn(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ys) => (q, ys.map(_._2).toSet) }
    val recall = t5.map { case (q, t) => (got.getOrElse(q, Set.empty[Long]) & t).size }
      .sum.toDouble / t5.values.map(_.size).sum
    // the composition does NOT stack losses multiplicatively: cell pruning
    // removes exactly the far-away vectors whose distorted 8-byte codes
    // pure ADC mis-ranks into the top-5, so measured recall is 0.42 vs
    // pure PQ's 0.38 (both on Lloyd-refined codebooks) — the cell acts as
    // a coarse exact pre-filter. Like pure PQ, the production precision
    // knob is an exact rerank of the ADC shortlist (previous test)
    assert(recall >= 0.35, s"IVF-PQ recall@5 = $recall")
    info(s"IVF-PQ recall@5 = $recall")
  }

  test("residual-encoded IVF-PQ: recall@5 at least matches raw-vector IVF-PQ") {
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf("sf0.01")))
      .select($"vec_id", $"v")
    val queries = vecs.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"v".as("qv"))
    val t5 = Similarity.bruteForceTopK(vecs, queries, 5).select("qid", "vec_id")
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => (q, xs.map(_._2).toSet) }
    def recall5(xs: Seq[(Long, Long)]): Double = {
      val got = xs.groupBy(_._1).map { case (q, ys) => (q, ys.map(_._2).toSet) }
      t5.map { case (q, t) => (got.getOrElse(q, Set.empty[Long]) & t).size }.sum
        .toDouble / t5.values.map(_.size).sum
    }
    val raw = recall5(SimilarityQueries.ivfPqAnn(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSeq)
    val res = recall5(SimilarityQueries.ivfPqResidual(spark, sf("sf0.01"))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSeq)
    // residuals are near-zero-mean within a cell, so the 16 codewords per
    // subspace quantize what the coarse quantizer did NOT explain — the
    // Jégou IVFADC argument; encoding residuals must not LOSE recall vs
    // encoding raw vectors, and must hold the raw composition's 0.42 floor
    assert(res >= raw, s"residual IVF-PQ recall@5 $res < raw $raw")
    assert(res >= 0.42, s"residual IVF-PQ recall@5 = $res")
    info(s"IVF-PQ recall@5: raw = $raw, residual-encoded = $res")
  }

  test("banded LSH still prunes: candidate pairs below the 10x-corpus cross join") {
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf("sf0.01")))
    val n = vecs.count()
    val anchors = vecs.filter($"vec_id" < 8)
      .select($"vec_id".as("aid"), $"v".as("av"))
    val coded = Similarity.withBandedCodes(vecs, anchors, bandBits = 2)
    val q = coded.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"bands".as("qbands"))
    val candidates = Similarity.bandCandidates(
      coded.select("vec_id", "v", "bands"), q, nBands = 4).count()
    // on isotropic data 4x2 banding scores ~0.7n per query — recall 1.0 at a
    // 30% cut vs brute force; real clustered embeddings prune far harder
    assert(candidates < 8L * n, s"candidates=$candidates corpus=$n")
  }

  test("multi-probe still prunes: probed candidates well below 10x corpus") {
    import graft.queries.SimilarityQueries
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf("sf0.01")))
    val n = vecs.count()
    val anchors = vecs.filter($"vec_id" < 8)
      .select($"vec_id".as("aid"), $"v".as("av"))
    val eb = Similarity.withBuckets(vecs, anchors)
    val q = Similarity.withProbes(eb.filter($"vec_id" < 10), anchors, flip = 3)
      .select($"vec_id".as("qid"), explode($"probes").as("bucket"))
    val candidates = eb.join(q, "bucket").count()
    // 8 of 256 buckets per query: must still beat the 10n cross join by 2x+
    assert(candidates < 5L * n, s"candidates=$candidates corpus=$n")
  }

  test("bucketing actually prunes: per-query candidates well below the corpus") {
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf("sf0.01")))
    val n = vecs.count()
    val anchors = vecs.filter($"vec_id" < 8)
      .select($"vec_id".as("aid"), $"v".as("av"))
    val eb = Similarity.withBuckets(vecs, anchors)
    val q = eb.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"bucket")
    val candidates = eb.join(q, "bucket").count()
    // 10 queries x full corpus would be 10n; bucketing must beat that by 5x+
    assert(candidates < 2L * n, s"candidates=$candidates corpus=$n")
  }
}
