package graft

import graft.pipeline.{CorpusJob, CorpusStream}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Compiled code is a per-JVM asset ([[Sessions.withGraftConf]]): once a
  * plan shape has run, running it again compiles nothing. Both halves of
  * the engine's repeated work are pinned — a pass over the benchmark's
  * query mix, and a stream publish over unchanged committed state. The
  * counter is Spark's JVM-wide Janino compile histogram; suites run one at
  * a time, so a delta taken around a step belongs to that step.
  */
class CodegenReuseSpec extends SparkSpec {

  /** The benchmark's query mix: one query from each of the 13 modules. */
  private val Mix = Seq(
    "r1_unpivot_filter", "c1_join_agg_topk", "c5b_rank_family", "c10_sessionize",
    "c24_salted_join", "profile_median_scalable", "text_clf_stored", "sim_ivf_ann",
    "dedup_clusters", "mm_phash_stored", "sample_dsir", "cms_heavy_hitters",
    "graph_domain_rank")

  private def compiles[A](f: => A): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a repeated query pass compiles no new classes") {
    val qs = SparkEntry.queries
    def pass(): Long = compiles(Mix.foreach(q => qs(q)(spark, sf()).count()))
    val counts = Seq.fill(2)(pass())
    info(s"compiles per pass: ${counts.mkString(" / ")}")
    // measured: 324 / 0 with the session's codegen settings, 415 / 169
    // with Spark's defaults (a 100-class cache that one pass overflows)
    assert(counts.last === 0L, s"repeated pass recompiled: ${counts.mkString(" / ")}")
  }

  test("a second publish over unchanged committed state compiles no new classes") {
    val n = CorpusStream.names("graft_codegen_reuse")
    CorpusStream.reset(spark, n)
    val docs = Tables.documents(spark, sf())
    CorpusStream.ingest(spark, docs.filter(col("doc_id") < 250), n, 0L)
    CorpusStream.ingest(spark, docs.filter(col("doc_id") >= 250), n, 1L)
    val cfg = CorpusJob.Config(input = sf(),
      out = java.nio.file.Files.createTempDirectory("graft-codegen-pub").toString)
    val counts = Seq.fill(2)(compiles(CorpusStream.publish(spark, n, cfg)))
    info(s"compiles per publish: ${counts.mkString(" / ")}")
    // measured: 178 / 4 with the session's codegen settings (the repeat:
    // two classes of the classifier's class-count aggregate, each compiled
    // on the driver and in a task), 321 / 312 with Spark's defaults
    assert(counts.last <= 8L, s"repeated publish recompiled: ${counts.mkString(" / ")}")
  }
}
