package graft

import graft.functions.BitsetFunctions
import org.apache.spark.sql.functions._

/** The native merge-intersect popcount must equal the interpreted HOF fold
  * it replaced, on the exact mask maps the dedup path builds — that
  * equality is what makes the swap hash-neutral.
  */
class BitsetIntersectSpec extends SparkSpec {
  import spark.implicits._

  private def foldInter = expr(
    """aggregate(map_keys(__ma), CAST(0 AS BIGINT), (acc, k) ->
      |  acc + bit_count(element_at(__ma, k) & coalesce(element_at(__mb, k), CAST(0 AS BIGINT))))"""
      .stripMargin)

  test("native merge-intersect equals the HOF fold on real dedup masks") {
    import graft.operators.Dedup
    val toks = Dedup.distinctTokenRows(Tables.documents(spark, sf()), "doc_id", "text")
    // rebuild the masks exactly as jaccardVerifyBitset does (sorted keys)
    val masks = toks
      .withColumn("tid", pmod(xxhash64(col("token")), lit(64L * 40))) // sparse ids: multi-word maps
      .select(col("doc_id"),
              (col("tid") / 64).cast("long").as("w"),
              expr("shiftleft(CAST(1 AS BIGINT), CAST(tid % 64 AS INT))").as("m"))
      .groupBy("doc_id", "w").agg(expr("bit_or(m)").as("mask"))
      .groupBy("doc_id")
      .agg(map_from_entries(sort_array(collect_list(struct(col("w"), col("mask"))))).as("mm"))
    val pairs = masks.select(col("doc_id").as("a"), col("mm").as("__ma"))
      .crossJoin(masks.limit(40).select(col("doc_id").as("b"), col("mm").as("__mb")))
    val mismatches = pairs
      .select(BitsetFunctions.bitsetIntersect(col("__ma"), col("__mb")).as("native"),
              foldInter.as("fold"))
      .filter(col("native") =!= col("fold")).count()
    assert(mismatches === 0)
  }

  test("null value slots match the fold exactly") {
    // fold semantics: every LEFT value is read (null poisons the sum to
    // NULL); RIGHT values go through coalesce(b[k], 0), so a null right
    // slot — shared key or not — contributes 0 bits, never NULL
    val df = Seq(
      // null in LEFT map -> NULL
      (Map(0L -> Option.empty[Long], 1L -> Some(3L)), Map(1L -> Some(3L)), Option.empty[Long]),
      // null in RIGHT at a SHARED key -> coalesce to 0 -> count 0
      (Map(1L -> Some(3L)), Map(1L -> Option.empty[Long]), Some(0L)),
      // null in RIGHT at a NON-shared key: never read -> 1 bit
      (Map(1L -> Some(1L)), Map(0L -> Option.empty[Long], 1L -> Some(1L)), Some(1L)))
      .toDF("a", "b", "want")
    val rows = df.select(
      BitsetFunctions.bitsetIntersect(col("a"), col("b")).as("got"), col("want")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), r)
      if (!r.isNullAt(1)) assert(r.getLong(0) === r.getLong(1), r)
    }
  }

  test("edge cases: disjoint, identical, empty maps, and codegen execution") {
    val df = Seq(
      (Map(0L -> 5L, 2L -> 255L), Map(0L -> 3L, 2L -> 15L), 5L),   // (101&011)=1 bit + 4 bits
      (Map(0L -> 1L), Map(1L -> 1L), 0L),                          // disjoint words
      (Map.empty[Long, Long], Map(0L -> 7L), 0L),                  // empty side
      (Map(5L -> -1L), Map(5L -> -1L), 64L))                       // full word overlap
      .toDF("a", "b", "want")
    val bad = df.filter(BitsetFunctions.bitsetIntersect(col("a"), col("b")) =!= col("want")).count()
    assert(bad === 0)
    // a literal local relation is folded away before codegen — round-trip
    // through parquet so the projection runs in a WholeStageCodegen stage
    val dir = java.nio.file.Files.createTempDirectory("graft-bitset").toString + "/t"
    df.write.parquet(dir)
    val plan = spark.read.parquet(dir)
      .select(BitsetFunctions.bitsetIntersect(col("a"), col("b")).as("c"))
    plan.collect()
    assert("""\*\(\d+\) Project \[bitset_intersect""".r
      .findFirstIn(plan.queryExecution.executedPlan.toString).isDefined,
      plan.queryExecution.executedPlan.toString)
  }
}
