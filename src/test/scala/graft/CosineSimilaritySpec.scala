package graft

import graft.functions.VectorFunctions
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The native codegen'd cosine must be BIT-identical to the composed
  * HOF fold (same accumulation order) — that equivalence is what lets it
  * replace the fold without touching any oracle hash.
  */
class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native cosine is bit-identical to the composed fold on real embeddings") {
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf()))
    val target = vecs.filter($"vec_id" === 3).select($"v".as("tv"))
    val both = vecs.crossJoin(broadcast(target)).select(
      Similarity.cosine($"v", $"tv").as("fold"),
      Similarity.cosineNative($"v", $"tv").as("native"))
    // exact double equality, all 500 rows (NaN-safe comparison via <=>)
    assert(both.filter(!($"fold" <=> $"native")).count() === 0)
  }

  test("native cosine nulls on unequal lengths, like the zip_with fold") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0))).toDF("a", "b")
    val row = df.select(Similarity.cosineNative($"a", $"b").as("n"),
                        Similarity.cosine($"a", $"b").as("f")).head()
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("native cosine nulls on a null array element, like the fold") {
    val df = Seq(
      (Seq[Option[Double]](Some(1.0), None, Some(3.0)),
       Seq[Option[Double]](Some(4.0), Some(5.0), Some(6.0))),
      (Seq[Option[Double]](Some(1.0), Some(2.0), Some(3.0)),
       Seq[Option[Double]](Some(4.0), None, Some(6.0))))
      .toDF("a", "b")
    val rows = df.select(Similarity.cosineNative($"a", $"b").as("n"),
                         Similarity.cosine($"a", $"b").as("f")).collect()
    rows.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1), r))
  }

  test("type mismatch fails analysis with a named error") {
    val df = Seq((1, 2)).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorFunctions.cosineSim($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("cosine_sim"))
  }

  test("codegen path actually compiles (no fallback to interpreted)") {
    val vecs = Similarity.prepared(Tables.embeddings(spark, sf())).limit(10)
    val df = vecs.crossJoin(broadcast(vecs.select($"v".as("tv"))))
      .select(Similarity.cosineNative($"v", $"tv").as("c"))
    df.collect() // materialize so the adaptive plan is final
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" star marks a WholeStageCodegen stage; cosine_sim must be in one
    assert("""\*\(\d+\) Project \[cosine_sim""".r.findFirstIn(plan).isDefined, plan)
  }
}
