package graft

import graft.operators.{Compaction, DedupState, StateAdmin}
import graft.pipeline.{CorpusJob, CorpusStream}
import graft.sinks.SnapshotStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Unified state administration ([[StateAdmin]]): the policy sweep keeps
  * bucketed-state file counts and snapshot retention bounded across
  * epochs, probes read identical rows through a sweep, cadences that owe
  * nothing touch nothing, and the stream hook is advisory — a broken
  * target can never block ingest.
  */
class StateAdminSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf()
  private val Buckets = 16

  /** A DedupState advanced through `epochs` merge appends (each append =
    * one more file per bucket on the band/token tables).
    */
  private def grownState(prefix: String, epochs: Int): DedupState.Names = {
    val docs = Tables.documents(spark, dir)
    val ids = docs.agg(max("doc_id")).head().getLong(0) + 1
    val cut = ids / 2
    val n = DedupState.names(prefix, dir)
    graft.queries.DedupQueries.buildFullState(
      spark, docs.filter(col("doc_id") < cut), n, Buckets)
    val per = (ids - cut) / epochs + 1
    (0 until epochs).foreach { e =>
      val lo = cut + e * per
      graft.queries.DedupQueries.mergeEpoch(spark,
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + per), n, Buckets)
    }
    n
  }

  private def targets(n: DedupState.Names) = Seq(
    StateAdmin.Target(n.bands, "band_key", Buckets),
    StateAdmin.Target(n.toks, "doc_id", Buckets))

  test("cadence sweep restores the one-file-per-bucket ceiling, probes row-identical") {
    val n = grownState("graft_admin_a", epochs = 3)
    val before = Compaction.fileCount(spark, n.bands)
    assert(before > Buckets, s"fixture grew only $before files — merges not appending?")
    val probeBefore = DedupState.bands(spark, n).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val r = StateAdmin.administer(spark, epoch = 8, targets(n),
      StateAdmin.Policy(everyEpochs = 8, maxFilesPerTable = 1000))
    assert(r.compacted.size === 2, s"expected both tables compacted: $r")
    assert(Compaction.fileCount(spark, n.bands) === Buckets.toLong)
    assert(Compaction.fileCount(spark, n.toks) === Buckets.toLong)
    val probeAfter = DedupState.bands(spark, n).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(probeAfter === probeBefore, "probe rows changed across the sweep")
    // idempotent: the next cadence point finds nothing to do
    val r2 = StateAdmin.administer(spark, epoch = 16, targets(n),
      StateAdmin.Policy(everyEpochs = 8, maxFilesPerTable = 1000))
    assert(r2.compacted.isEmpty, s"re-administering a compact state rewrote it: $r2")
  }

  test("off-cadence below the ceiling: the sweep touches nothing") {
    val n = grownState("graft_admin_b", epochs = 2)
    val files = Compaction.fileCount(spark, n.bands)
    val r = StateAdmin.administer(spark, epoch = 3, targets(n),
      StateAdmin.Policy(everyEpochs = 8, maxFilesPerTable = 1000))
    assert(r.compacted.isEmpty && r.checked === 2)
    assert(Compaction.fileCount(spark, n.bands) === files)
    // ... but the file-count ceiling triggers EARLY compaction off-cadence
    val r2 = StateAdmin.administer(spark, epoch = 3, targets(n),
      StateAdmin.Policy(everyEpochs = 8, maxFilesPerTable = Buckets.toLong))
    assert(r2.compacted.size === 2,
      s"ceiling breach off-cadence must compact: $r2")
    assert(Compaction.fileCount(spark, n.bands) === Buckets.toLong)
  }

  test("snapshot retention rides the cadence") {
    val root = Files.createTempDirectory("graft-admin-snap").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    (0 until 5).foreach(_ => SnapshotStore.publish(df, root))
    StateAdmin.administer(spark, epoch = 8, Nil,
      StateAdmin.Policy(everyEpochs = 8, keepSnapshots = 2), Some(root))
    val left = Files.list(java.nio.file.Paths.get(root)).iterator()
    val versions = new scala.collection.mutable.ArrayBuffer[String]()
    left.forEachRemaining(p => if (p.getFileName.toString.startsWith("v"))
      versions += p.getFileName.toString)
    assert(versions.size === 2, s"retention keep=2 left $versions")
    assert(SnapshotStore.currentVersion(root) === Some(4L), "live version vacuumed!")
  }

  test("stream hook: advisory sweep bounds snapshots; a broken target never blocks ingest") {
    val out = Files.createTempDirectory("graft-admin-stream-out").toString
    val root = Files.createTempDirectory("graft-admin-stream-snap").toString
    val n = CorpusStream.names("graft_admin_stream")
    CorpusStream.reset(spark, n)
    // one target that cannot compact (no such column as its bucket key):
    // the quiet wrapper must log and keep every epoch committing
    spark.range(4).select($"id".as("doc_id"), lit("x").as("text"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(2, "doc_id").saveAsTable("graft_admin_broken")
    val admin = CorpusStream.Admin(
      Seq(StateAdmin.Target("graft_admin_broken", "no_such_col", 2)),
      StateAdmin.Policy(everyEpochs = 1, keepSnapshots = 2))
    val docs = Tables.documents(spark, dir).filter($"doc_id" < 240)
      .as[CorpusDoc].collect().sortBy(_.doc_id).grouped(80).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CorpusDoc]
    val q = CorpusStream.run(mem.toDF(), CorpusJob.Config(input = dir, out = out),
      n, Some(root), None, Some(admin))
    try {
      docs.foreach { e => mem.addData(e); q.processAllAvailable() }
      assert(q.exception.isEmpty,
        s"broken admin target killed the stream: ${q.exception}")
      // all epochs committed (ingest never blocked)
      assert(SnapshotStore.currentVersion(root) === Some(docs.size - 1L))
      // and retention held: at most keepSnapshots versions remain
      val vs = Files.list(java.nio.file.Paths.get(root)).iterator()
      var count = 0
      vs.forEachRemaining(p => if (p.getFileName.toString.startsWith("v")) count += 1)
      assert(count <= 2, s"snapshot retention failed: $count versions")
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_admin_broken")
      CorpusStream.reset(spark, n)
    }
  }
}
