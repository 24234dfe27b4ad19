package graft

import org.apache.spark.sql.functions._

/** The public [[Graft]] facade: every family method runs end-to-end on
  * the fixtures and agrees with the operator it delegates to (the facade
  * must add no semantics of its own). Also covers [[graft.functions
  * .SetMembership]], the large-set membership node the skew family uses.
  */
class GraftFacadeSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf()
  private lazy val docs = Tables.documents(spark, dir)

  test("dedupExact keeps one doc per distinct text and never invents rows") {
    val out = Graft.dedupExact(docs)
    val distinctTexts = docs.select("text").distinct().count()
    assert(out.count() === distinctTexts)
    assert(out.join(docs, Seq("doc_id"), "left_anti").isEmpty)
    // keeps the MINIMUM id of each duplicate group
    val dupGroup = docs.groupBy(md5($"text")).agg(min("doc_id").as("keep"),
        count(lit(1)).as("n")).filter($"n" > 1)
    if (!dupGroup.isEmpty) {
      val keeps = dupGroup.select("keep").as[Long].collect().toSet
      val kept = out.select("doc_id").as[Long].collect().toSet
      assert(keeps.subsetOf(kept))
    }
  }

  test("nearDupPairs/Clusters agree with the oracle-verified query family") {
    val pairs = Graft.nearDupPairs(docs).select("a", "b")
    val queryPairs = graft.queries.DedupQueries
      .defs("dedup_minhash_pairs")(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    assert(pairs.exceptAll(queryPairs).isEmpty &&
           queryPairs.exceptAll(pairs).isEmpty)
    val clusters = Graft.nearDupClusters(docs)
    val queryClusters = graft.queries.DedupQueries
      .defs("dedup_clusters")(spark, dir).select("doc_id", "comp", "keeper")
    assert(clusters.select("doc_id", "comp", "keeper")
      .exceptAll(queryClusters).isEmpty)
  }

  test("decontaminate drops exact, 8-gram and fuzzy overlaps, keeps the rest") {
    val ids = docs.agg(max("doc_id")).head().getLong(0) + 1
    val eval = docs.filter($"doc_id" >= ids * 4 / 5)
    val train = docs.filter($"doc_id" < ids * 4 / 5)
    val out = Graft.decontaminate(train, eval)
    // exact copies of eval texts must be gone
    val exactOverlap = out.select(md5($"text").as("h"))
      .join(eval.select(md5($"text").as("h")), Seq("h"), "left_semi")
    assert(exactOverlap.isEmpty)
    // survivors are a subset of train
    assert(out.join(train, Seq("doc_id"), "left_semi").count() === out.count())
  }

  test("sample/split/stratifiedSample are deterministic and correctly sized") {
    val a = Graft.sample(docs, $"doc_id", 0.25).select("doc_id").as[Long].collect().sorted.toSeq
    val b = Graft.sample(docs, $"doc_id", 0.25).select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
    val n = docs.count()
    assert(math.abs(a.size - 0.25 * n) <= 0.1 * n,
      s"${a.size} of $n at fraction 0.25")

    val sp = Graft.split(docs, $"doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(sp.count() === n)
    assert(sp.groupBy("split").count().count() === 3)

    val strat = Graft.stratifiedSample(docs, $"lang",
      Map("en" -> 1.0), $"doc_id")
    assert(strat.filter($"lang" =!= "en").isEmpty)
    assert(strat.count() === docs.filter($"lang" === "en").count())
  }

  test("packBins packs whole docs under the window with (lang, bin) keys") {
    val sized = docs.select($"lang", $"doc_id",
      size(split($"text", "\\s+")).cast("long").as("n_toks"))
    val packed = Graft.packBins(sized)
    assert(packed.count() === sized.count())
    val over = packed.groupBy("lang", "bin")
      .agg(sum("n_toks").as("load"), count(lit(1)).as("n"))
      .filter($"load" > graft.operators.Packing.Window && $"n" > 1)
    assert(over.isEmpty, "a multi-doc bin exceeds the window")
  }

  test("knn returns exact cosine top-k; qualityScreen emits sane ranges") {
    val vecs = graft.operators.Similarity.prepared(Tables.embeddings(spark, dir))
      .select("vec_id", "v")
    val queries = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val got = Graft.knn(vecs, queries, 5)
    assert(got.count() === 15)
    // rank 1 of each query is the query itself (cosine 1.0)
    got.filter($"rnk" === 1).select("qid", "vec_id").as[(Long, Long)]
      .collect().foreach { case (q, v) => assert(q === v) }

    val q = Graft.qualityScreen(docs)
    assert(q.count() === docs.count())
    val bad = q.filter($"stopword_ratio" < 0 || $"stopword_ratio" > 1 ||
      $"alpha_ratio" < 0 || $"alpha_ratio" > 1 || $"n_toks" < 0)
    assert(bad.isEmpty)
  }

  test("valuesAtRanks matches a literal sort on the fixture") {
    val vals = Tables.orders(spark, dir)
      .select($"o_totalprice".cast("long").as("v"))
    val n = vals.count()
    val ranks = Seq(1L, n / 2, n)
    val got = Graft.valuesAtRanks(vals, ranks)
    val sorted = vals.orderBy("v").as[Long].collect()
    ranks.foreach(r => assert(got(r) === sorted((r - 1).toInt), s"rank $r"))
  }

  test("graft_in_set matches isin and keeps its string form bounded") {
    val keys = (0L until 5000L).filter(_ % 3 == 0)
    val df = spark.range(0, 10000).select($"id")
    val viaSet = df.filter(graft.functions.SetMembership.inLiteralSet(
      $"id", lit(keys.toArray))).as[Long].collect().sorted.toSeq
    assert(viaSet === keys.filter(_ < 10000))
    // the expression prints its SIZE, never 1667 values — the property
    // that keeps AQE/listener plan strings bytes instead of megabytes
    val s = graft.functions.InLiteralSet(
      org.apache.spark.sql.catalyst.expressions.Literal(1L),
      keys.map(k => k: Any).toSet, "bigint").toString
    assert(s.length < 100 && s.contains("1667"), s)
    // null child stays null (three-valued logic, like In)
    val withNull = Seq[java.lang.Long](1L, null, 3L).toDF("id")
      .select(graft.functions.SetMembership.inLiteralSet(
        $"id", lit(Array(1L))).as("m"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(withNull(0) === true && withNull(1) === null && withNull(2) === false)
  }
}
