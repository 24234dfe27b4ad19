package graft

import graft.operators.Materialize
import java.nio.file.{Files, Paths}

/** The cluster-durability switch for iterative operators: with
  * `spark.graft.checkpoint.dir` set, every CC/PageRank round is a RELIABLE
  * checkpoint (filesystem-backed, survives executor loss) instead of an
  * executor-local one — and the results are row-identical. The storage
  * assertion proves the rounds actually landed under the directory, i.e.
  * the mode was exercised, not silently skipped.
  */
class ReliableCheckpointSpec extends SparkSpec {

  private def rddDirsUnder(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    finally s.close()
  }

  test("CC and PageRank rounds checkpoint reliably under the configured dir, rows unchanged") {
    val dir = Files.createTempDirectory("graft-reliable-ck").toString
    val ccOff = graft.queries.DedupQueries.clusters(spark, sf()).collect()
    val rankOff = graft.queries.GraphQueries.domainRank(spark, sf()).collect()
    spark.conf.set(Materialize.DirKey, dir)
    try {
      val ccOn = graft.queries.DedupQueries.clusters(spark, sf()).collect()
      assert(rddDirsUnder(dir) > 0,
        "reliable mode must write rdd checkpoint dirs under the configured root")
      val rankOn = graft.queries.GraphQueries.domainRank(spark, sf()).collect()
      assert(ccOn.toSeq === ccOff.toSeq)
      assert(rankOn.toSeq === rankOff.toSeq)
    } finally spark.conf.unset(Materialize.DirKey)
  }

  test("incremental comps transition is durable too and still merge ≡ rebuild") {
    val dir = Files.createTempDirectory("graft-reliable-ck-inc").toString
    val off = graft.queries.DedupQueries.clustersIncremental(spark, sf()).collect()
    spark.conf.set(Materialize.DirKey, dir)
    try {
      val on = graft.queries.DedupQueries.clustersIncremental(spark, sf()).collect()
      assert(on.toSeq === off.toSeq)
      assert(rddDirsUnder(dir) > 0)
    } finally spark.conf.unset(Materialize.DirKey)
  }

  test("memo frames honour the posture: shingleFrame checkpoints under the configured dir") {
    val dir = Files.createTempDirectory("graft-reliable-ck-memo").toString
    spark.conf.set(Materialize.DirKey, dir)
    try {
      // the token frame beneath is a memo frame of its own: build it first,
      // so the count below moves only for the shingle frame's checkpoint
      graft.queries.DedupQueries.tokFrame(spark, sf())
      val before = rddDirsUnder(dir)
      graft.queries.DedupQueries.shingleFrame(spark, sf())
      assert(rddDirsUnder(dir) > before,
        "shingleFrame must checkpoint reliably under the configured root")
      // spansMinimized's window frame, once the tokens beneath are built
      graft.queries.DedupQueries.winnowedWindows(spark, sf())
      val beforeSpans = rddDirsUnder(dir)
      graft.queries.DedupQueries.spansMinimized(spark, sf())
      assert(rddDirsUnder(dir) > beforeSpans,
        "spansMinimized must checkpoint reliably under the configured root")
    } finally spark.conf.unset(Materialize.DirKey)
  }
}
