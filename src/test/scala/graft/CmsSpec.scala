package graft

import graft.functions.{Cms, ConstBytes, CmsQuery}
import org.apache.spark.sql.functions._

/** Mergeable Count-Min contract: point estimates are ALWAYS upper bounds on
  * true counts, overestimates stay inside the published e*N/width envelope,
  * and merge-of-partial-sketches is byte-identical to the one-shot sketch
  * (counters sum exactly — per-day frequency sketch tables re-aggregate
  * without rescanning raw data).
  */
class CmsSpec extends SparkSpec {
  import spark.implicits._

  private def tokenRows = Tables.documents(spark, sf("sf0.01"))
    .select(explode(split($"text", " ")).as("tok")).filter($"tok" =!= "")

  test("every point estimate is an upper bound within the error envelope") {
    val toks = tokenRows
    val n = toks.count()
    val sketch = toks.agg(Cms.sketch($"tok").as("sk"))
    val truth = toks.groupBy("tok").agg(count(lit(1)).as("true_n"))
    val est = truth.crossJoin(broadcast(sketch))
      .select($"tok", $"true_n", Cms.query($"sk", $"tok").as("est_n"))
      .collect()
    assert(est.nonEmpty)
    val envelope = math.E * n / Cms.DefaultWidth
    est.foreach { r =>
      val (t, e) = (r.getAs[Long]("true_n"), r.getAs[Long]("est_n"))
      assert(e >= t, s"CMS must never undercount: ${r.getAs[String]("tok")} est=$e true=$t")
      assert(e - t <= 3 * envelope,
        s"overestimate blew the envelope: ${r.getAs[String]("tok")} est=$e true=$t envelope=$envelope")
    }
  }

  test("heavy hitters rank correctly through the sketch") {
    val toks = tokenRows
    val sketch = toks.agg(Cms.sketch($"tok").as("sk"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok")).limit(5)
    val checked = top.crossJoin(broadcast(sketch))
      .select($"tok", $"n", Cms.query($"sk", $"tok").as("est"))
      .as[(String, Long, Long)].collect()
    // the top tokens dominate the noise floor, so their estimates are tight
    checked.foreach { case (tok, n, est) =>
      assert(est >= n && est <= n + n / 5, s"$tok: est=$est true=$n")
    }
  }

  test("merge of per-lang sketches is byte-identical to the one-shot sketch") {
    val docs = Tables.documents(spark, sf("sf0.01"))
      .select($"lang", explode(split($"text", " ")).as("tok")).filter($"tok" =!= "")
    val perLang = docs.groupBy("lang").agg(Cms.sketch($"tok").as("sk"))
    assert(perLang.count() > 1) // the merge below actually merges several
    val merged = perLang.agg(Cms.merge($"sk").as("sk")).select($"sk").as[Array[Byte]].head()
    val oneShot = docs.agg(Cms.sketch($"tok").as("sk")).select($"sk").as[Array[Byte]].head()
    assert(java.util.Arrays.equals(merged, oneShot),
      "counter-for-counter equality, not approximate")
  }

  test("sketch bytes are self-describing and shape-checked") {
    val sk = spark.range(100).agg(Cms.sketch($"id", 3, 64).as("sk"))
      .select($"sk").as[Array[Byte]].head()
    val (d, w, buf) = graft.functions.CmsSketch.deserialize(sk)
    assert(d === 3 && w === 64 && buf.length === 192)
    assert(buf.sum === 3 * 100L, "each row counts every input once")
    // merging mismatched shapes must fail loudly, not corrupt counters
    intercept[Exception] {
      spark.range(10).agg(Cms.sketch($"id", 3, 64).as("sk"))
        .agg(Cms.merge($"sk", 5, 2048)).collect()
    }
  }

  test("prefilter never drops a true heavy hitter and stays selective") {
    // the exactness argument behind cms_heavy_hitters: estimate >= true
    // count means {est >= T} ⊇ {true >= T} — the prefiltered exact recount
    // equals the unfiltered groupBy + HAVING. Also pin that the candidate
    // slice is actually thin (the 100 TB point of the pattern): with
    // width >> distinct keys, collision noise stays below the threshold
    // for most singletons.
    val sh = Tables.documents(spark, sf("sf0.01"))
      .select($"doc_id", graft.operators.TextAnalysis.tokens($"text").as("toks"))
      .select(explode(graft.operators.Dedup.ngramShingles($"toks", 3)).as("shingle"))
    val sk = sh.agg(Cms.sketch($"shingle", 4, 1 << 17).as("sk"))
      .select($"sk").as[Array[Byte]].head()
    val t = 5L
    val exact = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter($"df" >= t)
    val prefiltered = sh.filter(Cms.query(lit(sk), $"shingle") >= t)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter($"df" >= t)
    assert(prefiltered.exceptAll(exact).isEmpty && exact.exceptAll(prefiltered).isEmpty,
      "prefiltered exact recount must equal the plain groupBy + HAVING")
    val total = sh.count()
    val candidates = sh.filter(Cms.query(lit(sk), $"shingle") >= t).count()
    assert(candidates < total / 5,
      s"prefilter kept $candidates of $total rows — not selective; widen the sketch")
  }

  test("decode cache keys on sketch identity, not expression instance") {
    // one CmsQuery instance probed with TWO different Literal sketches in
    // alternation must re-decode on each switch — a stale cache would
    // silently answer from the wrong sketch's counters
    val skA = spark.range(100).agg(Cms.sketch($"id", 3, 64).as("sk"))
      .select($"sk").as[Array[Byte]].head()
    val skB = spark.range(1).agg(Cms.sketch($"id", 3, 64).as("sk"))
      .select($"sk").as[Array[Byte]].head()
    val probed = spark.range(10).select(
      $"id",
      Cms.query(when($"id" % 2 === 0, lit(skA)).otherwise(lit(skB)), $"id").as("est"))
      .as[(Long, Long)].collect().toMap
    // skA counted 0..99 once each; skB counted only 0 — estimates are
    // upper bounds but at these widths exact for inserted vs absent keys
    assert((0L until 10L by 2).forall(i => probed(i) >= 1L))
    assert(probed(1L) === 0L && probed(3L) === 0L,
      "odd ids probe the 1-element sketch and must miss")
  }

  test("cms SQL surface on a graft session") {
    val est = spark.sql(
      """SELECT cms_query(cms_sketch(id, 5, 2048), CAST(7 AS BIGINT)) AS n
        |FROM range(0, 50)""".stripMargin).as[Long].head()
    assert(est === 1L)
  }

  test("a constant sketch rides as a ConstBytes payload: bounded print, content equality") {
    val sk = spark.range(100).agg(Cms.sketch($"id", 3, 64).as("sk"))
      .select($"sk").as[Array[Byte]].head()
    val viaConst = spark.range(10).select($"id", Cms.query(lit(sk), $"id").as("est"))
    val probes = viaConst.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case q: CmsQuery => q.left })
    assert(probes.size === 1)
    val payload = probes.head.asInstanceOf[ConstBytes]
    assert(!payload.foldable && !payload.nullable)
    assert(payload.toString.matches(s"cms_sketch<${sk.length} B xxh64=[0-9a-f]{16}>"),
      payload.toString)
    // equal bytes under another reference are one node; one changed byte is not
    assert(ConstBytes("cms_sketch", sk.clone) === payload)
    assert(ConstBytes("cms_sketch", sk.clone).hashCode === payload.hashCode)
    val other = sk.clone
    other(other.length - 1) = (other.last + 1).toByte
    assert(ConstBytes("cms_sketch", other) !== payload)
    // the same probes as the sketch taken from a column
    val viaColumn = spark.range(10).crossJoin(spark.range(1).select(lit(sk).as("sk")))
      .select($"id", Cms.query($"sk", $"id").as("est"))
    assert(viaConst.as[(Long, Long)].collect().toMap ===
      viaColumn.as[(Long, Long)].collect().toMap)
  }
}
