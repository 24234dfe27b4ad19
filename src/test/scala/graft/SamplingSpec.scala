package graft

import graft.operators.Sampling
import graft.queries.{DedupQueries, SamplingQueries}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling contract: exact reproducibility (the property
  * rand()-sampling lacks), salt independence, and fraction accuracy.
  */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("same key+salt+fraction selects the identical row set, any run") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val a = Sampling.deterministic(docs, $"doc_id", 0.2, "x")
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.deterministic(docs.repartition(7), $"doc_id", 0.2, "x")
      .select("doc_id").as[Long].collect().toSet
    assert(a === b) // stable under repartition (content-keyed, no RNG)
    assert(a.nonEmpty)
  }

  test("a smaller fraction with the same salt is a subset (nested samples)") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val small = Sampling.deterministic(docs, $"doc_id", 0.05, "x")
      .select("doc_id").as[Long].collect().toSet
    val big = Sampling.deterministic(docs, $"doc_id", 0.25, "x")
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(big)) // thresholds nest on the same hash coordinate
  }

  test("different salts give (near-)independent samples at the right rate") {
    val n = 20000L
    val ids = spark.range(n).toDF("id")
    val a = Sampling.deterministic(ids, $"id", 0.3, "saltA").count()
    val b = Sampling.deterministic(ids, $"id", 0.3, "saltB").count()
    val both = Sampling.deterministic(
      Sampling.deterministic(ids, $"id", 0.3, "saltA"), $"id", 0.3, "saltB").count()
    assert(math.abs(a - n * 0.3) < n * 0.03, s"a=$a")
    assert(math.abs(b - n * 0.3) < n * 0.03, s"b=$b")
    assert(math.abs(both - n * 0.09) < n * 0.02, s"both=$both") // ~independent
  }

  test("splitAssign partitions every non-null-key row, disjointly and exhaustively") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.splitAssign(docs, $"doc_id", splits, "s")
    assert(out.count() === docs.count(), "every row gets exactly one split")
    val perSplit = out.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(perSplit.keySet === Set("train", "val", "test"))
    // 500 docs: expect roughly 400/50/50; allow generous slack
    assert(perSplit("train") > 350 && perSplit("train") < 450, perSplit.toString)
    // stable under repartition (content-keyed)
    val again = Sampling.splitAssign(docs.repartition(7), $"doc_id", splits, "s")
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(again === out.select("doc_id", "split").as[(Long, String)].collect().toSet)
    // weights that don't cover the space are rejected loudly
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(docs, $"doc_id", Seq("a" -> 0.5, "b" -> 0.4), "s")
    }
  }

  test("source-keyed split never straddles a source across splits (leakage guard)") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.splitAssign(docs, $"source", splits, "g1")
    assert(out.count() === docs.count())
    // the invariant a doc-keyed split CANNOT give: every source's docs all
    // land in one split, so same-origin near-dups never leak train->test
    val straddlers = out.groupBy("source")
      .agg(countDistinct($"split").as("n_splits"))
      .filter($"n_splits" > 1).count()
    assert(straddlers === 0L, "a source was split across train/val/test")
    // and the doc-keyed split DOES straddle on this corpus — the guard is
    // not vacuously true
    val docKeyed = Sampling.splitAssign(docs, $"doc_id", splits, "s")
      .groupBy("source").agg(countDistinct($"split").as("n_splits"))
      .filter($"n_splits" > 1).count()
    assert(docKeyed > 0L, "control: doc-keyed split unexpectedly leak-free")
  }

  test("topKByHash returns exactly k rows per group, identically every run") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val out = Sampling.topKByHash(docs, $"lang", $"doc_id", k = 7, salt = "t")
    val sizes = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(sizes.values.forall(_ === 7L), sizes.toString)
    val a = out.select("doc_id").as[Long].collect().toSet
    val b = Sampling.topKByHash(docs.repartition(5), $"lang", $"doc_id", 7, "t")
      .select("doc_id").as[Long].collect().toSet
    assert(a === b, "exact-size sample must be partitioning-independent")
    // a different salt picks a (near-certainly) different committee
    val c = Sampling.topKByHash(docs, $"lang", $"doc_id", 7, "u")
      .select("doc_id").as[Long].collect().toSet
    assert(a !== c)
  }

  test("esPriority matches an independent plain-Scala A-ES reference and favors weight") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val spark50 = docs.filter($"n_chars" > 0)
      .withColumn("__p", Sampling.esPriority($"doc_id", $"n_chars", "w1"))
      .orderBy(desc("__p"), asc("doc_id")).limit(50)
      .select("doc_id").as[Long].collect().toSet
    // independent reference: md5 via MessageDigest, same ln(u)/w priority
    val ref = docs.select("doc_id", "n_chars").as[(Long, Long)].collect()
      .filter(_._2 > 0)
      .map { case (id, w) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"w1:$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        val u = (java.lang.Long.parseLong(hex, 16) + 1).toDouble / (1L << 60).toDouble
        (id, math.log(u) / w.toDouble)
      }
      .sortBy { case (id, p) => (-p, id) }.take(50).map(_._1).toSet
    assert(spark50 === ref, "Spark selection must equal the plain-Scala A-ES reference")
    // weighting works: the sample's mean weight exceeds the corpus mean
    // (with 500 docs and weight spread this holds by a wide margin)
    val sampleMean = docs.filter($"doc_id".isin(spark50.toSeq: _*))
      .agg(avg("n_chars")).as[Double].head()
    val corpusMean = docs.agg(avg("n_chars")).as[Double].head()
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("stratified drops strata absent from the fraction map") {
    val docs = Tables.documents(spark, sf())
    val out = Sampling.stratified(docs, $"lang", Map("en" -> 1.0), $"doc_id")
    assert(out.select("lang").distinct().as[String].collect().toSeq === Seq("en"))
    // fraction 1.0 keeps every row of the stratum
    assert(out.count() === docs.filter($"lang" === "en").count())
  }

  test("gumbel draw is total, deterministic, and Gumbel-shaped") {
    val keys = spark.range(0, 5000).select($"id".cast("long").as("k"))
    val g = keys.select($"k", Sampling.gumbel($"k", "g1").as("g"))
    // total: finite for every key (the midpoint u-construction keeps u
    // strictly inside (0,1) — u=1 would blow up both engines' inner ln)
    assert(g.filter($"g".isNull || isnan($"g") ||
      $"g" === Double.PositiveInfinity || $"g" === Double.NegativeInfinity)
      .count() === 0L)
    // deterministic under repartitioning: bit-equal draws
    val a = g.as[(Long, Double)].collect().toMap
    val b = keys.repartition(7).select($"k", Sampling.gumbel($"k", "g1").as("g"))
      .as[(Long, Double)].collect().toMap
    assert(a === b)
    // Gumbel(0,1) moments: mean = γ ≈ 0.5772, var = π²/6 ≈ 1.6449;
    // 5000 hash draws should land well inside ±5·sd/√n of each
    val xs = a.values.toSeq
    val mean = xs.sum / xs.size
    val varr = xs.map(x => (x - mean) * (x - mean)).sum / xs.size
    assert(math.abs(mean - 0.5772) < 5 * math.sqrt(1.6449 / xs.size),
      s"gumbel mean $mean too far from Euler–Mascheroni")
    assert(math.abs(varr - 1.6449) < 0.35, s"gumbel variance $varr off")
    // different salts decorrelate the draws (keyed covariance ≈ 0)
    val c = keys.select($"k", Sampling.gumbel($"k", "g2").as("g"))
      .as[(Long, Double)].collect().toMap
    val cMean = c.values.sum / c.size
    val cov = a.keys.map(k => (a(k) - mean) * (c(k) - cMean)).sum / a.size
    assert(math.abs(cov) < 0.1, s"salted draws correlated: cov $cov")
  }

  test("poisson bootstrap multiplicities: mean ~ 1 per replicate, replicates differ") {
    val docs = Tables.documents(spark, sf("sf0.01")).select("doc_id")
    val n = docs.count()
    val eff = (0 to 2).map { r =>
      docs.select(Sampling.poissonMultiplicity($"doc_id", s"boot$r").as("m"))
        .agg(sum("m")).as[Long].head()
    }
    // E[sum m] = n, sd = sqrt(n): 5 sigma bounds at n=500 → ±~112
    eff.foreach(e => assert(math.abs(e - n) <= 5 * math.sqrt(n.toDouble),
      s"replicate size $e too far from $n"))
    // different salts must give different resamples
    assert(eff.distinct.size > 1, s"replicates identical: $eff")
    // multiplicities are deterministic: same salt → bit-equal weights
    val a = docs.select($"doc_id", Sampling.poissonMultiplicity($"doc_id", "boot0").as("m"))
      .as[(Long, Long)].collect().toMap
    val b = docs.repartition(7)
      .select($"doc_id", Sampling.poissonMultiplicity($"doc_id", "boot0").as("m"))
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("dsir λ matches the two-aggregate model bit for bit; a warm sample_dsir runs ≤ 8 jobs") {
    import SamplingQueries.{DsirBuckets, DsirTarget}
    // the reference: totals from a second aggregate of the counts, as
    // the model was first written (and as the oracle's dsirChainSql states it)
    def reference(db: DataFrame): DataFrame = {
      val counts = db.groupBy("bucket").agg(sum("tf").as("rc"),
        sum(when(col("source") === DsirTarget, col("tf")).otherwise(0L)).as("tc"))
      val totals = counts.agg(sum("rc").as("rtot"), sum("tc").as("ttot"))
      val micronats = (p: Column) => floor(log(p) * lit(1e6)).cast("long")
      spark.range(0, DsirBuckets).select(col("id").as("bucket"))
        .join(counts, Seq("bucket"), "left").crossJoin(totals)
        .select(col("bucket"),
          (micronats((coalesce(col("tc"), lit(0L)) + lit(1L)).cast("double")
              / (col("ttot").cast("double") + lit(DsirBuckets.toDouble)))
            - micronats((coalesce(col("rc"), lit(0L)) + lit(1L)).cast("double")
              / (col("rtot").cast("double") + lit(DsirBuckets.toDouble)))).as("lam"))
    }
    def lam(df: DataFrame): Map[Long, Long] =
      df.select("bucket", "lam").as[(Long, Long)].collect().toMap
    val tf = SamplingQueries.dsirFeatures(Tables.documents(spark, sf()))
    val standing = tf.filter(col("doc_id") < DedupQueries.splitId(spark, sf()))
    // sample_dsir's model (the whole corpus) and sample_dsir_stored's table
    val whole = lam(reference(tf))
    assert(whole.size === DsirBuckets)
    assert(lam(SamplingQueries.dsirLam(spark, tf)) === whole)
    assert(lam(spark.table(SamplingQueries.dsirState(spark, sf()))) === lam(reference(standing)))

    val q = SparkEntry.queries("sample_dsir")
    q(spark, sf()).count()
    val jobs = jobsOf(q(spark, sf()).count())
    info(s"warm sample_dsir count: $jobs jobs")
    // measured: 10 when the totals re-aggregated the tf frame
    assert(jobs <= 8, s"a warm sample_dsir count ran $jobs jobs")
  }
}
