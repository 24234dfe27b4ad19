package graft

import graft.functions.{Bloom, BloomFilterBits}
import org.apache.spark.sql.functions._

/** Mergeable Bloom contract: NO false negatives ever (the guarantee the
  * prefilter pattern rests on), false positives inside the published
  * (1 - e^{-kn/m})^k envelope, and merge-of-partial-filters byte-identical
  * to the one-shot filter (bitwise OR is exact — per-day filter tables
  * re-aggregate without rescanning raw keys).
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives: every inserted key probes true") {
    val keys = Tables.documents(spark, sf("sf0.01"))
      .select(md5($"text").as("h"))
    val filt = keys.agg(Bloom.agg($"h").as("f"))
    val missed = keys.crossJoin(broadcast(filt))
      .filter(!Bloom.contains($"f", $"h"))
      .count()
    assert(missed === 0L, "a Bloom filter must NEVER reject an inserted key")
  }

  test("false-positive rate stays within 3x the analytic envelope") {
    val n = 200
    val bits = 2048
    val hashes = 7
    val inserted = spark.range(0, n)
    val filt = inserted.agg(Bloom.agg($"id", bits, hashes).as("f"))
    val probes = 20000
    val fp = spark.range(1000000, 1000000 + probes) // disjoint from inserted
      .crossJoin(broadcast(filt))
      .filter(Bloom.contains($"f", $"id"))
      .count()
    val envelope = math.pow(1 - math.exp(-hashes.toDouble * n / bits), hashes)
    val observed = fp.toDouble / probes
    assert(observed <= 3 * envelope,
      s"FPR $observed blew the envelope $envelope (n=$n m=$bits k=$hashes)")
    assert(fp > 0, "a filter this loaded should show SOME false positives — " +
      "zero suggests the probe is not actually testing bits")
  }

  test("merge of per-lang filters is byte-identical to the one-shot filter") {
    val docs = Tables.documents(spark, sf("sf0.01"))
      .select($"lang", md5($"text").as("h"))
    val perLang = docs.groupBy("lang").agg(Bloom.agg($"h").as("f"))
    assert(perLang.count() > 1) // the merge below actually merges several
    val merged = perLang.agg(Bloom.merge($"f").as("f")).select($"f").as[Array[Byte]].head()
    val oneShot = docs.agg(Bloom.agg($"h").as("f")).select($"f").as[Array[Byte]].head()
    assert(java.util.Arrays.equals(merged, oneShot),
      "bitwise-OR merge must be bit-for-bit the one-shot filter")
  }

  test("filter bytes are self-describing and shape-checked") {
    val bytes = spark.range(100).agg(Bloom.agg($"id", 256, 3).as("f"))
      .select($"f").as[Array[Byte]].head()
    val (nb, nh, tc, words) = BloomFilterBits.deserialize(bytes)
    assert(nb === 256 && nh === 3 && words.length === 4)
    assert(tc === BloomFilterBits.typeClass(org.apache.spark.sql.types.LongType))
    assert(words.exists(_ != 0L), "100 keys must set some bits")
    // merging mismatched shapes must fail loudly, not corrupt bits
    intercept[Exception] {
      spark.range(10).agg(Bloom.agg($"id", 256, 3).as("f"))
        .agg(Bloom.merge($"f", 1024, 7)).collect()
    }
    // corrupt bytes are rejected, not misread
    intercept[Exception] { BloomFilterBits.deserialize(Array[Byte](1, 2, 3)) }
  }

  test("cross-class probe and cross-class merge fail loudly, never silently miss") {
    // filter built over STRING keys, probed with a BIGINT: the hash domains
    // differ, so a silent probe would false-negative — must throw instead
    val err = intercept[Exception] {
      spark.sql(
        """SELECT bloom_contains(f, CAST(7 AS BIGINT)) FROM
          |(SELECT bloom_agg(CAST(id AS STRING), 65536, 7) AS f FROM range(0, 50))"""
          .stripMargin).collect()
    }
    assert(err.getMessage.contains("class"), err.getMessage)
    // integral widening stays compatible: build on INT, probe with BIGINT
    val ok = spark.sql(
      """SELECT bloom_contains(f, CAST(7 AS BIGINT)) AS hit FROM
        |(SELECT bloom_agg(CAST(id AS INT), 65536, 7) AS f FROM range(0, 50))"""
        .stripMargin).head()
    assert(ok.getBoolean(0) === true)
    // merging filters of different classes is rejected
    intercept[Exception] {
      spark.sql(
        """SELECT bloom_merge(f, 65536, 7) FROM (
          |  SELECT bloom_agg(id, 65536, 7) AS f FROM range(0, 10)
          |  UNION ALL
          |  SELECT bloom_agg(CAST(id AS STRING), 65536, 7) FROM range(0, 10))"""
          .stripMargin).collect()
    }
  }

  test("bloom SQL surface on a graft session") {
    val row = spark.sql(
      """SELECT bloom_contains(f, CAST(7 AS BIGINT)) AS hit,
        |       bloom_contains(f, CAST(999 AS BIGINT)) AS miss
        |FROM (SELECT bloom_agg(id, 65536, 7) AS f FROM range(0, 50))""".stripMargin)
      .head()
    assert(row.getBoolean(0) === true)
    assert(row.getBoolean(1) === false,
      "65536 bits over 50 keys: P(fp) ~ 1e-17 — a hit here means broken hashing")
  }

  test("decontaminate equals the plain anti-join on randomized key sets") {
    // a TINY filter (64 bits) over 300 blocklisted keys forces a high
    // false-positive rate, so the exact anti-join leg does real work —
    // exactness must hold regardless of how bad the filter is
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2000).map(_ => rnd.nextInt(1000).toLong)
    val block = (0 until 300).map(_ => rnd.nextInt(1000).toLong).distinct
    val df = rows.toDF("k")
    val bl = block.toDF("b")
    val got = graft.functions.Bloom
      .decontaminate(df, $"k", bl, numBits = 64, numHashes = 3)
      .as[Long].collect().sorted.toSeq
    val want = df.join(bl, $"k" === $"b", "left_anti").as[Long].collect().sorted.toSeq
    assert(got === want, "bloom split must be invisible — exact anti-join semantics")
    assert(got.nonEmpty && got.size < rows.size)
  }

  test("prefiltered semi-join is row-identical to the plain semi-join") {
    val d = sf("sf0.01")
    val viaBloom = queries.SketchQueries.bloomSemiRevenue(spark, d).collect()
    val urgent = Tables.orders(spark, d)
      .filter($"o_orderpriority" === "1-URGENT").select("o_orderkey")
    val plain = Tables.lineitem(spark, d)
      .join(urgent, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy("l_returnflag")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag")
      .collect()
    assert(viaBloom.toSeq === plain.toSeq,
      "the bloom prefilter must be invisible in the result — exactness is the contract")
  }
}
