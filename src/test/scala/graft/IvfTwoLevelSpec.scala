package graft

import graft.queries.SimilarityQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two-level (coarse-quantized) IVF assignment is the 100 TB posture
  * path for index (re)builds: with fixed-occupancy sizing k(n) = n/500 the
  * flat n×k Voronoi assignment is quadratic in the corpus, so above
  * `spark.graft.ivf.twoLevelMinK` seeds the assignment routes each vector
  * through its nearest super-cell (√k of them) and scores only that
  * super-cell's member seeds — n·2√k scored pairs. The default threshold
  * keeps every fixture-scale run on the exact path; this suite forces the
  * conf down and pins the approximation's contract: exactness when
  * clusters are tight, full-corpus coverage via the seedless-super-cell
  * rescue, and determinism + an agreement floor on live embeddings.
  */
class IvfTwoLevelSpec extends SparkSpec {
  import spark.implicits._

  private def withTwoLevel[A](minK: String)(body: => A): A = {
    val key = SimilarityQueries.TwoLevelMinKConf
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, minK)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def vecsDf(rows: Seq[(Long, Seq[Double])]): DataFrame =
    rows.toDF("vec_id", "v")

  private def seedsOf(vecs: DataFrame, k: Long): DataFrame =
    vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("sid"), col("v").as("sv"))

  private def assign(vecs: DataFrame, k: Long): Map[Long, Long] = {
    SimilarityQueries
      .ivfAssign(vecs.select("vec_id", "v"), seedsOf(vecs, k), "vec_id", k)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
  }

  test("two-level assignment is exact when vectors sit on their seeds") {
    // 4 mutually-orthogonal seeds, corpus = 10 exact copies of each: the
    // exact path assigns every copy to its own seed (cosine 1 vs 0), and
    // the coarse route must land each copy in the super-cell holding that
    // seed, so the two paths agree on every row.
    val seeds = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), Seq(0.0, 0.0, 0.0, 1.0))
    val rows = seeds.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 40).map(i => ((100 + i).toLong, seeds(i % 4)))
    val vecs = vecsDf(rows)
    val exact = assign(vecs, 4)
    val two = withTwoLevel("2")(assign(vecs, 4))
    assert(two === exact)
    assert((0 until 40).forall(i => two((100 + i).toLong) == (i % 4).toLong))
  }

  test("seedless super-cell rescue keeps the index covering the corpus") {
    // k=9 → g=3 super-seeds s0/s1/s2, all within 0.009 rad of each other:
    // every pairwise 4dp cosine ties at 1.0000, so ALL NINE seeds map to
    // super-cell s0 (lowest sid wins ties) and the s1/s2 super-cells hold
    // no seeds. A vector 0.035 rad out ranks the supers s2 (0.9997) >
    // s1 (0.9996) > s0 (0.9994), so BOTH its probed super-cells are
    // seedless — without the rescue it would vanish from the index; with
    // it, the exact pass assigns it to its true nearest seed s2.
    def at(theta: Double): Seq[Double] = Seq(math.cos(theta), math.sin(theta))
    val seeds = Seq(0.0, 0.008, 0.009, -0.8, -1.0, -1.2, -1.4, -1.6, -1.8)
    val vecs = vecsDf(
      seeds.zipWithIndex.map { case (th, i) => (i.toLong, at(th)) } :+
        (100L, at(0.035)))
    val two = withTwoLevel("2")(assign(vecs, 9))
    assert(two.size === 10, "rescue must keep every vector in the index")
    assert(two(100L) === 2L, "rescued vector must get its exact nearest seed")
    assert(two(4L) === 4L && two(8L) === 8L)
  }

  test("live embeddings: full coverage, deterministic, agreement floor") {
    val vecs = graft.operators.Similarity
      .prepared(Tables.embeddings(spark, sf())).select("vec_id", "v")
    val k = SimilarityQueries.ivfK(spark, sf())
    val seeds = seedsOf(vecs, k)
    def run(): Map[Long, Long] = SimilarityQueries
      .ivfAssign(vecs, seeds, "vec_id", k)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    val exact = run()
    val (two1, two2) = withTwoLevel("2")((run(), run()))
    assert(two1.size === exact.size, "two-level must cover the full corpus")
    assert(two1 === two2, "two-level assignment must be deterministic")
    assert(two1.values.toSet.subsetOf((0L until k).toSet))
    val agree = exact.count { case (id, c) => two1(id) == c }.toDouble / exact.size
    info(f"two-level vs exact agreement at sf0.001: $agree%.3f (k=$k)")
    assert(agree >= 0.5,
      f"coarse routing lost too much: agreement $agree%.3f < 0.5")
  }

  test("downstream ANN recall survives the two-level route") {
    // Raw assignment agreement understates the approximation's quality:
    // a vector routed to a "wrong" cell is still found by every query the
    // coarse level routes the same way. The user-facing contract is
    // recall@3 vs brute force, so pin that directly: the two-level index
    // must hold the same kind of floor AnnRecallSpec pins for the exact
    // path, and sit within a modest band of the exact path's own recall.
    val vecs = graft.operators.Similarity
      .prepared(Tables.embeddings(spark, sf()))
    val queries = vecs.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val truth = graft.operators.Similarity.bruteForceTopK(vecs, queries, 3)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => (q, xs.map(_._2).toSet) }
    def recall(): Double = {
      val got = SimilarityQueries.ivfAnn(spark, sf())
        .select("qid", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, xs) => (q, xs.map(_._2).toSet) }
      truth.map { case (q, t) => (got.getOrElse(q, Set.empty) & t).size }.sum
        .toDouble / truth.values.map(_.size).sum
    }
    val exactRecall = recall()
    val twoRecall = withTwoLevel("2")(recall())
    info(f"ivf recall@3 at sf0.001: exact $exactRecall%.3f two-level $twoRecall%.3f")
    assert(twoRecall >= exactRecall - 0.2,
      f"two-level recall $twoRecall%.3f fell > 0.2 below exact $exactRecall%.3f")
  }
}
