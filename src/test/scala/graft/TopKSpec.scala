package graft

import graft.functions.TopK
import org.apache.spark.sql.functions._

/** `topk_min` — the bounded top-k aggregate — must return exactly
  * `slice(array_sort(collect_list(value)), 1, k)` for every group while
  * holding only k values per aggregation buffer.
  */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def reference(k: Int) = (c: org.apache.spark.sql.Column) =>
    slice(array_sort(collect_list(c)), 1, k)

  test("matches the collect_list reference on struct values, across partitions and ties") {
    // duplicate sort keys (score ties), negative scores, many partitions so
    // partial aggregation + merge paths both run
    val rows = for {
      g <- 0 until 7
      i <- 0 until 50
    } yield (g.toLong, ((i * 37 + g) % 11).toDouble - 5.0, s"tok_${i % 13}")
    val df = rows.toDF("g", "score", "tok").repartition(8)
    val v = struct((-col("score")).as("ns"), col("tok"))
    val got = df.groupBy("g").agg(TopK.minK(v, 3).as("top"))
    val want = df.groupBy("g").agg(reference(3)(v).as("top"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("k larger than the group returns the whole group sorted; nulls skipped") {
    val df = Seq((1L, Some(3)), (1L, None), (1L, Some(1)), (2L, Some(9)))
      .toDF("g", "v").repartition(3)
    val got = df.groupBy("g")
      .agg(TopK.minK(col("v"), 10).as("top"))
      .orderBy("g").collect()
    assert(got(0).getSeq[Int](1) === Seq(1, 3))
    assert(got(1).getSeq[Int](1) === Seq(9))
  }

  test("SQL surface and serialization round-trip under a wide shuffle") {
    spark.range(0, 1000).selectExpr("id % 4 as g", "id as v")
      .repartition(16).createOrReplaceTempView("graft_topk_t")
    val got = spark.sql(
      "SELECT g, topk_min(v, 2) AS top FROM graft_topk_t GROUP BY g ORDER BY g")
      .collect()
    assert(got.map(_.getSeq[Long](1)).toSeq ===
      Seq(Seq(0L, 4L), Seq(1L, 5L), Seq(2L, 6L), Seq(3L, 7L)))
  }
}
