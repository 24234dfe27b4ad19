package graft

import graft.functions.Hll
import org.apache.spark.sql.functions._

/** Mergeable-HLL contract: accuracy within the published error bound
  * against exact counts, and EXACT register equality between
  * union-of-partial-sketches and the one-shot sketch (the property that
  * makes per-day sketch tables re-aggregable without rescanning raw data).
  */
class HllSpec extends SparkSpec {
  import spark.implicits._

  private val rsd = 1.04 / math.sqrt(1 << Hll.DefaultPrecision) // ~1.6% at p=12

  test("estimate tracks exact distinct counts within 3*rsd at sf0.1") {
    val ev = Tables.events(spark, sf("sf0.1"))
    val exactUsers = ev.select(countDistinct("user_id")).as[Long].head()
    val approxUsers = ev.select(Hll.approxCountDistinct($"user_id")).as[Long].head()
    assert(math.abs(approxUsers - exactUsers).toDouble / exactUsers <= 3 * rsd,
      s"users: approx=$approxUsers exact=$exactUsers")

    val docs = Tables.documents(spark, sf("sf0.1"))
    val exactText = docs.select(countDistinct("text")).as[Long].head()
    val approxText = docs.select(Hll.approxCountDistinct($"text")).as[Long].head()
    assert(math.abs(approxText - exactText).toDouble / exactText <= 3 * rsd,
      s"texts: approx=$approxText exact=$exactText")
  }

  test("linear-counting regime is near-exact for small cardinalities") {
    val n = 50L
    val est = spark.range(n).select(Hll.approxCountDistinct($"id")).as[Long].head()
    assert(math.abs(est - n) <= 1, s"est=$est")
  }

  test("union of per-day sketches has EXACTLY the registers of the global sketch") {
    val ev = Tables.events(spark, sf("sf0.01")).withColumn("day", to_date($"ts"))
    // per-day partial sketches (what a pipeline would store) ...
    val daily = ev.groupBy("day").agg(Hll.sketch($"user_id").as("sk"))
    assert(daily.count() > 1) // the union below actually merges several sketches
    val unioned = daily.agg(Hll.union($"sk").as("sk")).select($"sk").as[Array[Byte]].head()
    // ... vs one sketch over all raw rows
    val global = ev.agg(Hll.sketch($"user_id").as("sk")).select($"sk").as[Array[Byte]].head()
    assert(unioned === global) // register-for-register, not approximately
    val viaUnion = daily.agg(Hll.estimate(Hll.union($"sk"))).as[Long].head()
    val direct = ev.agg(Hll.estimate(Hll.sketch($"user_id"))).as[Long].head()
    assert(viaUnion === direct)
  }

  test("sketches survive SQL, nulls are ignored, precisions can't mix") {
    Seq(Some("a"), Some("b"), None, Some("a")).toDF("x").createOrReplaceTempView("hll_t")
    val est = spark.sql("SELECT hll_estimate(hll_sketch(x)) FROM hll_t").as[Long].head()
    assert(est === 2L) // null contributes nothing; duplicate collapses
    val e = intercept[Exception] {
      Seq(1L, 2L).toDF("x")
        .select(Hll.sketch($"x", 6).as("a"), Hll.sketch($"x", 8).as("b"))
        .select(Hll.union($"a", 6))
        .unionByName(Seq(3L).toDF("x").select(Hll.sketch($"x", 8).as("u"))
          .select(Hll.union($"u", 6)))
        .collect()
    }
    assert(e.getMessage != null)
  }
}
