package graft

import graft.functions.DistanceFunctions
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The native codegen'd squared-L2 must be BIT-identical to the
  * aggregate(zip_with) fold it replaced in the k-means assignment — that
  * equivalence is what lets it swap in without touching the sim_kmeans /
  * dedup_semantic oracle hashes.
  */
class SquaredDistanceSpec extends SparkSpec {
  import spark.implicits._

  private def foldSqDist(a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  test("native sq_dist is bit-identical to the fold on real embeddings") {
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf()))
    val target = vecs.filter($"vec_id" === 3).select($"v".as("tv"))
    val both = vecs.crossJoin(broadcast(target)).select(
      foldSqDist($"v", $"tv").as("fold"),
      DistanceFunctions.sqDist($"v", $"tv").as("native"))
    assert(both.filter(!($"fold" <=> $"native")).count() === 0)
  }

  test("native sq_dist nulls on unequal lengths and null elements, like the fold") {
    val lens = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0))).toDF("a", "b")
      .select(DistanceFunctions.sqDist($"a", $"b").as("n"),
              foldSqDist($"a", $"b").as("f")).head()
    assert(lens.isNullAt(0) && lens.isNullAt(1))
    val nulls = Seq(
      (Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(4.0), Some(5.0))),
      (Seq[Option[Double]](Some(1.0), Some(2.0)), Seq[Option[Double]](None, Some(5.0))))
      .toDF("a", "b")
      .select(DistanceFunctions.sqDist($"a", $"b").as("n"),
              foldSqDist($"a", $"b").as("f")).collect()
    nulls.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1), r))
  }

  test("codegen path actually compiles (no fallback to interpreted)") {
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf())).limit(10)
    val df = vecs.crossJoin(broadcast(vecs.select($"v".as("tv"))))
      .select(DistanceFunctions.sqDist($"v", $"tv").as("d"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[sq_dist""".r.findFirstIn(plan).isDefined, plan)
  }

  test("kmeans assignment hashes are unchanged by the native swap") {
    // belt-and-braces on top of bit-parity: the full assignment frame for
    // the seed centroids equals the fold-built equivalent row-for-row
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf()))
      .select($"vec_id", $"v")
    val cents = Similarity.kmeansFit(vecs, k = 5, rounds = 1)
    val native = Similarity.kmeansAssign(vecs, cents)
      .select("vec_id", "cluster", "dist").collect().sortBy(_.getLong(0))
    val foldScored = array(cents.map { case (cid, cv) =>
      val litC = array(cv.map(lit): _*)
      struct(round(foldSqDist($"v", litC), 6).as("dist"), lit(cid).as("cid"))
    }: _*)
    val fold = vecs.withColumn("best", element_at(array_sort(foldScored), 1))
      .select($"vec_id", $"best".getField("cid").as("cluster"),
              $"best".getField("dist").as("dist"))
      .collect().sortBy(_.getLong(0))
    assert(native.toSeq === fold.toSeq)
  }
}
