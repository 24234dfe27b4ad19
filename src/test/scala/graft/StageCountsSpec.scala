package graft

import graft.pipeline.{CorpusJob, CorpusStream, StageStore}
import org.apache.spark.sql.functions._

/** Stage counts ride the stage's own checkpoint job
  * ([[StageStore.observed]]): every funnel count equals an explicit
  * `count()` of that stage's output — when the stage is computed, when it
  * is read back from a sealed resume dir (where no observation fires),
  * and with no resume dir at all. The stream's batch id range rides its
  * batch checkpoint the same way, empty batch included.
  */
class StageCountsSpec extends SparkSpec {

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("observed stage counts equal explicit counts: computed, resumed, no resume dir") {
    val dir = tempDir("graft-counts-store")
    val cfg = CorpusJob.Config(input = sf(), out = tempDir("graft-counts-out"),
      resumeDir = dir)
    val computed = CorpusJob.executeWith(spark, cfg,
      new StageStore(spark, dir, cfg.input))._2
    val store = new StageStore(spark, dir, cfg.input)
    val resumed = CorpusJob.executeWith(spark,
      cfg.copy(out = tempDir("graft-counts-out")), store)._2
    assert(store.misses === 0, "the re-run must read every stage back")
    val plain = CorpusJob.execute(spark,
      cfg.copy(out = tempDir("graft-counts-out"), resumeDir = ""))._2

    def stage(name: String) = spark.read.parquet(s"$dir/$name/data")
    val explicit = Seq(
      "exact" -> stage("exact").count(), "bow" -> stage("bow").count(),
      "near" -> stage("near").count(), "clean0" -> stage("clean0").count(),
      "fuzzy" -> stage("fuzzy").count(),
      "spancut" -> stage("spancut").filter(col("n_cut") > 0).count(),
      "screened" -> stage("screened").count(), "quality" -> stage("quality").count(),
      "budget" -> stage("budget").count(), "mixed" -> stage("mixed").count())
    for ((run, f) <- Seq("computed" -> computed, "resumed" -> resumed, "plain" -> plain)) {
      val observed = Seq(
        "exact" -> f.exactKept, "bow" -> f.bowKept, "near" -> f.nearKept,
        "clean0" -> f.cleanKept, "fuzzy" -> f.fuzzyKept, "spancut" -> f.spanCutDocs,
        "screened" -> f.screenedKept, "quality" -> f.qualityKept,
        "budget" -> f.budgetKept, "mixed" -> f.mixKept)
      assert(observed === explicit, s"$run run")
    }
    assert(stage("spancut").count() === computed.fuzzyKept)
  }

  test("ingest observes the batch id range; an empty batch commits no range") {
    val n = CorpusStream.names("graft_counts_ingest")
    CorpusStream.reset(spark, n)
    val docs = Tables.documents(spark, sf())
    val first = docs.filter(col("doc_id") < 100)
    val firstMax = first.agg(max("doc_id")).head().getLong(0)
    CorpusStream.ingest(spark, first, n, 0L)
    CorpusStream.ingest(spark, docs.filter(lit(false)), n, 1L)
    val marks = spark.table(n.meta).select("epoch", "max_doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(marks === Map(0L -> firstMax, 1L -> firstMax),
      "an empty batch carries the standing max forward")
    val e = intercept[IllegalArgumentException](CorpusStream.ingest(spark,
      docs.filter(col("doc_id") >= 50 && col("doc_id") < 150), n, 2L))
    assert(e.getMessage.contains("does not exceed the standing max"))
    CorpusStream.ingest(spark, docs.filter(col("doc_id") >= 100), n, 2L)
    assert(spark.table(n.meta).agg(max("max_doc_id")).head().getLong(0) ===
      docs.agg(max("doc_id")).head().getLong(0))
  }
}
