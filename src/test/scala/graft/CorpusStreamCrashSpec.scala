package graft

import graft.pipeline.{CorpusJob, CorpusStream}
import org.apache.spark.sql.functions._

/** Crash consistency of the streaming curation state transition:
  * Structured Streaming replays a failed micro-batch with the same
  * batchId, and the failure can land between any two state writes. A
  * naive multi-table append is not retry-safe — if the hash table
  * advanced but the survivor table didn't, the replay computes "no new
  * hashes" and silently loses the batch's documents. These tests kill
  * the epoch-1 transition after every write prefix (0..8 of its 8
  * writes — 8 = committed, exercising the replay no-op guard), replay
  * it, ingest one more epoch, and require the final published corpus to
  * be row-identical to the clean run: the SnapshotStoreSpec
  * kill-at-every-point discipline applied to the multi-table head state.
  */
class CorpusStreamCrashSpec extends SparkSpec {

  private val d = sf()
  private def docs = Tables.documents(spark, d).filter(col("doc_id") < 240)
  private def epochs = Seq(
    docs.filter(col("doc_id") < 80),
    docs.filter(col("doc_id") >= 80 && col("doc_id") < 160),
    docs.filter(col("doc_id") >= 160))

  private lazy val cleanOut = {
    val out = java.nio.file.Files.createTempDirectory("graft-crash-clean").toString
    val n = CorpusStream.names("graft_crash_clean")
    CorpusStream.reset(spark, n)
    epochs.zipWithIndex.foreach { case (b, i) =>
      CorpusStream.ingest(spark, b, n, i.toLong)
    }
    CorpusStream.publish(spark, n, CorpusJob.Config(input = d, out = out))
      ._1.localCheckpoint(true)
  }

  test("out-of-order batch (ids at or below the standing max) fails loudly") {
    val n = CorpusStream.names("graft_crash_ooo")
    CorpusStream.reset(spark, n)
    CorpusStream.ingest(spark, epochs(1), n, 0L) // ids 80..159 first
    // a replayed old shard: ids 0..79 sit below the standing max 159 —
    // admitting it would silently lose every doc to established keepers
    val e = intercept[IllegalArgumentException] {
      CorpusStream.ingest(spark, epochs(0), n, 1L)
    }
    assert(e.getMessage.contains("does not exceed the standing max"))
  }

  test("gapped epoch (not the watermark successor) fails loudly") {
    val n = CorpusStream.names("graft_crash_gap")
    CorpusStream.reset(spark, n)
    CorpusStream.ingest(spark, epochs(0), n, 0L)
    val e = intercept[IllegalArgumentException] {
      CorpusStream.ingest(spark, epochs(1), n, 2L) // skips epoch 1
    }
    assert(e.getMessage.contains("successor"))
  }

  test("an (epoch)-only meta table is refused loudly") {
    import spark.implicits._
    val n = CorpusStream.names("graft_crash_legacy")
    CorpusStream.reset(spark, n)
    CorpusStream.ingest(spark, epochs(0), n, 0L)
    // the meta schema before max_doc_id was tracked: only the epoch column
    val eps = spark.table(n.meta).select("epoch").collect().map(_.getLong(0)).toSeq
    eps.toDF("epoch").write.mode("overwrite").format("parquet").saveAsTable(n.meta)
    val e = intercept[IllegalStateException] {
      CorpusStream.ingest(spark, epochs(1), n, 1L)
    }
    assert(e.getMessage.contains("reset the stream"), e.getMessage)
  }

  test("vacuum drops superseded comps snapshots; publish still serves the watermark") {
    val out = java.nio.file.Files.createTempDirectory("graft-crash-vac").toString
    val n = CorpusStream.names("graft_crash_vac")
    CorpusStream.reset(spark, n)
    epochs.zipWithIndex.foreach { case (b, i) =>
      CorpusStream.ingest(spark, b, n, i.toLong)
    }
    assert(CorpusStream.vacuum(spark, n) === 2) // epochs 0 and 1 superseded
    assert(CorpusStream.vacuum(spark, n) === 0) // idempotent
    val eps = spark.table(n.comps).select("epoch").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(eps === Set(2L), eps.toString)
    val (got, _) = CorpusStream.publish(spark, n,
      CorpusJob.Config(input = d, out = out))
    assert(got.exceptAll(cleanOut).isEmpty && cleanOut.exceptAll(got).isEmpty)
  }

  for (cut <- 0 to 8) {
    test(s"replay after a crash $cut/8 writes into epoch 1 converges") {
      val out = java.nio.file.Files.createTempDirectory(s"graft-crash-$cut").toString
      val n = CorpusStream.names(s"graft_crash_$cut")
      CorpusStream.reset(spark, n)
      CorpusStream.ingest(spark, epochs(0), n, 0L)
      CorpusStream.ingestUpTo(spark, epochs(1), n, 1L, cut) // the crash
      CorpusStream.ingest(spark, epochs(1), n, 1L)          // the replay
      CorpusStream.ingest(spark, epochs(2), n, 2L)
      val (got, _) = CorpusStream.publish(spark, n,
        CorpusJob.Config(input = d, out = out))
      assert(got.exceptAll(cleanOut).isEmpty && cleanOut.exceptAll(got).isEmpty,
        s"state diverged after a crash at write $cut")
    }
  }
}
