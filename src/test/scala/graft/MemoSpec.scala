package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.operators.Materialize
import graft.queries.Memo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The cross-query memo registry ([[graft.queries.Memo]]): lookup
  * counting under concurrency, nested builds, per-name eviction that
  * unpersists checkpointed frames, and the key's content fingerprint and
  * checkpoint posture.
  */
class MemoSpec extends SparkSpec {

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("concurrent lookups of one missing key count one miss and N-1 hits") {
    val e = Memo.entry[java.lang.Long]("spec.concurrent")
    val n = 8
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val values = try {
      val fs = (1 to n).map(_ => pool.submit(new Callable[java.lang.Long] {
        def call(): java.lang.Long = {
          start.await()
          e(spark, sf()) { builds.incrementAndGet(); Thread.sleep(200); 42L }
        }
      }))
      start.countDown()
      fs.map(_.get(60, TimeUnit.SECONDS).longValue)
    } finally pool.shutdown()
    assert(values === Seq.fill(n)(42L))
    assert(builds.get === 1)
    assert(e.misses === 1L)
    assert(e.hits === (n - 1).toLong)
  }

  test("building one entry may look up another (nested build)") {
    val inner = Memo.entry[String]("spec.inner")
    val outer = Memo.entry[String]("spec.outer")
    assert(outer(spark, sf()) { inner(spark, sf())("b") + "a" } === "ba")
    assert(outer(spark, sf())(fail("outer rebuilt")) === "ba")
    assert(inner(spark, sf())(fail("inner rebuilt")) === "b")
    assert((outer.hits, outer.misses, inner.hits, inner.misses) === (1L, 1L, 1L, 1L))
  }

  test("a 5th dir evicts and unpersists the older frames of that name only") {
    val frames = Memo.entry[DataFrame]("spec.frames")
    val other = Memo.entry[DataFrame]("spec.other")
    val dirs = (1 to 5).map(i => tempDir(s"memo-evict-$i"))
    def build(i: Int): DataFrame = spark.range(0, 10 + i).toDF("id").localCheckpoint(true)
    def rddId(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.head
    def persisted: collection.Set[Int] = spark.sparkContext.getPersistentRDDs.keySet

    val kept = rddId(other(spark, dirs(0))(build(0)))
    val older = dirs.take(4).zipWithIndex.map { case (d, i) => rddId(frames(spark, d)(build(i))) }
    assert(older.forall(persisted.contains), "four keys stay under the bound")
    val newest = rddId(frames(spark, dirs(4))(build(4)))
    assert(older.forall(id => !persisted.contains(id)), "older frames unpersisted")
    assert(persisted.contains(newest))
    assert(persisted.contains(kept), "another name's frame is untouched")
    assert(rddId(other(spark, dirs(0))(fail("other rebuilt"))) === kept)
    assert(frames.misses === 5L)
  }

  test("rewriting the parquet at the same dir rebuilds memoized state") {
    def copyOf(prefix: String): String = {
      val src = Path.of(sf())
      val d = tempDir(prefix)
      Files.list(src).forEach { t =>
        Files.walk(t).forEach { p =>
          Files.copy(p, Path.of(d).resolve(src.relativize(p).toString))
        }
      }
      d
    }
    def rewrite(d: String): Unit =
      Tables.documents(spark, sf()).filter(col("doc_id") < 300)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val qs = Seq("dedup_minhash_pairs", "text_tfidf", "dedup_incremental_stored")
    def run(d: String)(q: String) = SparkEntry.queries(q)(spark, d)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val d = copyOf("memo-content")
    val before = qs.map(run(d))
    rewrite(d)
    val after = qs.map(run(d))
    // the reference: the same rewritten content under a dir no lookup has
    // seen, so its state is built fresh
    val fresh = copyOf("memo-content-fresh")
    rewrite(fresh)
    val ref = qs.map(run(fresh))
    qs.indices.foreach { i =>
      assert(after(i) === ref(i), s"${qs(i)} served stale memoized state")
      assert(ref(i) !== before(i), s"${qs(i)}: the subset must change the output")
    }
  }

  test("setting the checkpoint dir rebuilds state built under localCheckpoint") {
    val e = Memo.entry[String]("spec.posture")
    val builds = new AtomicInteger
    def lookup(): String = e(spark, sf()) {
      s"${spark.conf.getOption(Materialize.DirKey)}#${builds.incrementAndGet()}"
    }
    assert(lookup() === "None#1")
    assert(lookup() === "None#1")
    val dir = tempDir("memo-posture")
    spark.conf.set(Materialize.DirKey, dir)
    try assert(lookup() === s"Some($dir)#2", "local-posture state served to a reliable session")
    finally spark.conf.unset(Materialize.DirKey)
    assert((e.hits, e.misses) === (1L, 2L))
  }
}
