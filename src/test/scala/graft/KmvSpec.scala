package graft

import graft.functions.{Kmv, KmvOps}
import graft.operators.Sampling
import org.apache.spark.sql.functions._

/** Mergeable-KMV contract: exact sketch equality between
  * union-of-partials and the one-shot sketch (re-aggregability), the
  * published error bound against exact distinct counts, set-algebra
  * estimates (union / intersection / jaccard) within bound, and the
  * graceful exact degradation while sketches are not full.
  */
class KmvSpec extends SparkSpec {
  import spark.implicits._

  test("KmvOps merge/estimate basics") {
    val a = Array(1L, 5L, 9L)
    val b = Array(3L, 5L, 7L, 11L)
    assert(KmvOps.mergeSorted(a, b, 10).toSeq === Seq(1L, 3L, 5L, 7L, 9L, 11L))
    assert(KmvOps.mergeSorted(a, b, 4).toSeq === Seq(1L, 3L, 5L, 7L))
    // not-full sketch estimates exactly
    assert(KmvOps.estimateSorted(Array(1L, 2L), 64) === 2L)
    // full sketch: (k-1)*2^60 / theta
    val k = 4
    val vals = Array(10L, 20L, 30L, KmvOps.HashSpace / 100)
    val expect = (BigInt(3) * BigInt(KmvOps.HashSpace) /
      BigInt(KmvOps.HashSpace / 100)).toLong
    assert(KmvOps.estimateSorted(vals, k) === expect)
  }

  test("union of per-day sketches is byte-identical to the one-shot sketch") {
    val ev = Tables.events(spark, sf("sf0.01"))
      .select(to_date($"ts").as("day"),
        Sampling.hash60($"user_id", "kmvspec").as("hv"))
    val daily = ev.groupBy("day").agg(Kmv.sketch($"hv", 64).as("sk"))
    assert(daily.count() > 1)
    val unioned = daily.agg(Kmv.union($"sk", 64).as("sk"))
      .select($"sk").as[Array[Byte]].head()
    val global = ev.agg(Kmv.sketch($"hv", 64).as("sk"))
      .select($"sk").as[Array[Byte]].head()
    assert(unioned === global)
  }

  test("estimate tracks exact distinct within 3/sqrt(k-2) at sf0.1") {
    val k = 256
    val rse = 1.0 / math.sqrt(k - 2.0)
    val ev = Tables.events(spark, sf("sf0.1"))
      .select(Sampling.hash60(concat_ws(":", $"user_id", $"event_type"),
        "kmvspec2").as("hv"))
    val exact = ev.select(countDistinct($"hv")).as[Long].head()
    val est = ev.agg(Kmv.estimate(Kmv.sketch($"hv", k), k)).as[Long].head()
    assert(exact > k, s"fixture too small to exercise the estimator: $exact")
    assert(math.abs(est - exact).toDouble / exact <= 3 * rse,
      s"est=$est exact=$exact rse=$rse")
  }

  test("set algebra: union/intersection/jaccard estimates within bound") {
    val k = 256
    val rse = 1.0 / math.sqrt(k - 2.0)
    // two overlapping ranges: |A|=3000, |B|=3000, |A∩B|=1000
    val a = spark.range(0, 3000).select(Sampling.hash60($"id", "kset").as("hv"))
    val b = spark.range(2000, 5000).select(Sampling.hash60($"id", "kset").as("hv"))
    val ska = a.agg(Kmv.sketch($"hv", k).as("sk")).as[Array[Byte]].head()
    val skb = b.agg(Kmv.sketch($"hv", k).as("sk")).as[Array[Byte]].head()
    val estU = KmvOps.unionEst(ska, skb, k)
    val estI = KmvOps.interEst(ska, skb, k)
    val jac = KmvOps.jaccardMicroEst(ska, skb, k)
    assert(math.abs(estU - 5000).toDouble / 5000 <= 3 * rse, s"estU=$estU")
    // intersection compounds two estimates — allow a wider (binomial) band
    assert(math.abs(estI - 1000).toDouble / 1000 <= 0.5, s"estI=$estI")
    assert(math.abs(jac - 200000).toDouble / 200000 <= 0.5, s"jac=$jac")
  }

  test("not-full sketches degrade to exact set operations") {
    val k = 64
    val av = (1L to 20L).toArray
    val bv = (11L to 30L).toArray
    val ska = KmvOps.toBytes(av)
    val skb = KmvOps.toBytes(bv)
    assert(KmvOps.unionEst(ska, skb, k) === 30L)
    assert(KmvOps.interEst(ska, skb, k) === 10L)
    assert(KmvOps.jaccardMicroEst(ska, skb, k) === 1000000L * 10 / 30)
  }

  test("sketches survive SQL; nulls ignored; bounded size") {
    Seq(Some(5L), Some(7L), None, Some(5L)).toDF("hv")
      .createOrReplaceTempView("kmv_t")
    val est = spark.sql("SELECT kmv_estimate(kmv_sketch(hv, 8), 8) FROM kmv_t")
      .as[Long].head()
    assert(est === 2L)
    // 1000 distinct values through a k=16 sketch: 16*8 bytes, sorted
    val sk = spark.range(1000)
      .select(Sampling.hash60($"id", "cap").as("hv"))
      .agg(Kmv.sketch($"hv", 16).as("sk")).as[Array[Byte]].head()
    assert(sk.length === 16 * 8)
    val vals = KmvOps.fromBytes(sk)
    assert(vals.toSeq === vals.sorted.toSeq)
  }
}
