package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fuzzy decontamination tier's set form ([[Dedup.fuzzyContaminatedIds]]:
  * per-document token sets, map-side MinHash, one set intersection per
  * candidate) returns exactly what the token-row form returns: grouped
  * MinHash over exploded distinct tokens, the same bands and cross
  * candidates, and the bitset-popcount Jaccard verify.
  */
class FuzzyDecontamSpec extends SparkSpec {
  import spark.implicits._

  private val K = 16
  private val R = 4

  /** The token-row formulation, built from the public helpers. */
  private def rowFormIds(train: DataFrame, eval: DataFrame): DataFrame = {
    val tT = Dedup.distinctTokenRows(train, "doc_id", "text")
    val tE = Dedup.distinctTokenRows(eval, "doc_id", "text")
    val bT = Dedup.minhashBands(Dedup.minhashSignatures(tT, "doc_id", K), "doc_id", K, R)
    val bE = Dedup.minhashBands(Dedup.minhashSignatures(tE, "doc_id", K), "doc_id", K, R)
    val cand = Dedup.lshCrossCandidatePairs(bT, bE, "doc_id", K / R)
    val parts = cand.select($"a".as("doc_id"))
      .union(cand.select($"b".as("doc_id"))).distinct()
    val toks = tT.unionByName(tE).join(parts, Seq("doc_id"), "left_semi")
    Dedup.jaccardVerifyBitset(cand, toks, "doc_id")
      .filter($"jaccard" >= 0.7)
      .select($"a".as("doc_id")).distinct()
  }

  private def ids(df: DataFrame): Set[Long] =
    df.as[Long].collect().toSet

  private def assertSameIds(train: DataFrame, eval: DataFrame): Set[Long] = {
    val set = ids(Dedup.fuzzyContaminatedIds(train, eval, "doc_id", "text"))
    assert(set === ids(rowFormIds(train, eval)))
    set
  }

  for (dir <- Seq("sf0.001", "sf0.01"))
    test(s"set form returns the token-row form's ids on $dir documents") {
      val docs = Tables.documents(spark, sf(dir)).select("doc_id", "text")
      val hit = assertSameIds(docs.filter($"doc_id" % 10 =!= 0),
                              docs.filter($"doc_id" % 10 === 0))
      assert(hit.nonEmpty, s"the $dir split must exercise the verify")
    }

  test("set-form signature equals minhashSignatures per document") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val grouped = Dedup.minhashSignatures(
      Dedup.distinctTokenRows(docs, "doc_id", "text"), "doc_id", K)
    val sets = Dedup.distinctTokenSets(docs, "doc_id", "text")
    // zero-token documents have no token rows, hence no grouped signature
    val mapped = Dedup.minhashSetSignatures(sets, "doc_id", K)
      .join(sets.filter(size($"set") > 0).select("doc_id"), "doc_id")
    assert(grouped.count() > 0)
    assert(mapped.count() === grouped.count())
    assert(mapped.exceptAll(grouped).isEmpty)
    assert(grouped.exceptAll(mapped).isEmpty)
  }

  test("zero-token and exact-duplicate documents: both forms agree") {
    val evalText = (1 to 20).map(i => s"w$i").mkString(" ")
    val train = Seq(
      1L -> "",
      2L -> "   ",
      3L -> evalText,                                  // exact duplicate
      4L -> (evalText + " " + evalText),               // same token set
      5L -> (1 to 20).map(i => s"x$i").mkString(" "),  // unrelated
      6L -> evalText.replace("w7", "v7")               // Jaccard 19/21
    ).toDF("doc_id", "text")
    val eval = Seq(10L -> evalText, 20L -> "", 30L -> " ").toDF("doc_id", "text")
    val hit = assertSameIds(train, eval)
    assert(Set(3L, 4L).subsetOf(hit), hit)
    assert(!hit.contains(1L) && !hit.contains(2L) && !hit.contains(5L), hit)
    assert(Dedup.minhashSetSignatures(
      Dedup.distinctTokenSets(train, "doc_id", "text"), "doc_id", K)
      .filter($"doc_id" === 1L && $"m0".isNull).count() === 1L,
      "a zero-token document signs to null")
  }
}
