package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Stage-boundary persistence for [[CorpusJob]] — what makes a multi-day
  * 100 TB curation run RESUMABLE instead of all-or-nothing.
  *
  * The batch job is a ladder of a dozen corpus-sized stages (near-dup CC,
  * fuzzy decontamination, span winnowing, classifier training, ...); on a
  * real cluster the probability that NOTHING preempts, OOMs or loses a
  * node across the whole ladder is low, and today a death at stage 9
  * recomputes stages 1–8 from scratch. With `--resume-dir <durable path>`
  * each stage's output frame is written to `<dir>/<stage>/data` and sealed
  * with a `_DONE` marker carrying the stage's FINGERPRINT; a re-run reads
  * sealed stages back instead of recomputing them and re-runs only from
  * the first unsealed (or invalidated) stage.
  *
  * Fingerprints form a CHAIN: `fp_n = md5(fp_{n-1} | name | stage conf)`,
  * seeded from the input path — so editing any upstream knob (or the
  * input) invalidates every downstream stage automatically, while editing
  * a downstream knob (say `--min-tokens`) keeps the expensive dedup head
  * sealed and re-runs only the screens onward. Stages a config disables
  * still advance the chain (`skip`) so toggling a tier on/off invalidates
  * what follows it.
  *
  * Crash contract (same stance as the staged swaps elsewhere: trust
  * markers, not job success):
  *  - the marker is deleted BEFORE the stage's data dir is touched and
  *    written (atomically, via temp + `ATOMIC_MOVE`) only AFTER the
  *    parquet write job completed — so a crash at any point leaves either
  *    a sealed valid stage or no marker, never a sealed half-write;
  *  - re-running after any crash recomputes exactly the unsealed suffix;
  *  - markers are fingerprint-checked on read, so a stale resume dir from
  *    a different config or input is recomputed, never trusted.
  *
  * Single-writer, like every staged-swap surface here ([[graft.sinks
  * .SnapshotStore]] documents the same stance): one curation run owns a
  * resume dir at a time — two concurrent runs against the same dir could
  * interleave marker deletes with each other's data writes. Concurrent
  * runs get distinct dirs (they'd share nothing anyway: the chain seed
  * includes the input).
  *
  * Cost: one corpus-sized parquet write per stage — the standard price of
  * checkpointing a long pipeline, paid only when `--resume-dir` is given.
  * With the store disabled (the default, and always for the streaming
  * twin's per-release tail) `stage` is a transparent pass-through of the
  * compute block, byte-for-byte the un-resumable behavior.
  */
final class StageStore(spark: SparkSession, dir: String, seed: String) {

  private var chain = StageStore.md5hex("graft-stage-chain|" + seed)
  private var nHits = 0
  private var nMisses = 0

  /** Sealed stages read back instead of recomputed, this run. */
  def hits: Int = nHits

  /** Stages computed (and, when enabled, persisted + sealed) this run. */
  def misses: Int = nMisses

  def enabled: Boolean = dir.nonEmpty

  private def advance(name: String, conf: String): String = {
    chain = StageStore.md5hex(chain + "|" + name + "|" + conf)
    chain
  }

  /** Record a disabled stage in the fingerprint chain without persisting
    * anything — flipping the stage on later must invalidate its suffix.
    */
  def skip(name: String, conf: String): Unit = { advance(name, conf); () }

  /** Run (or resume) one stage. `conf` must encode every config knob the
    * stage's output depends on beyond its upstream frames — upstream
    * dependence rides the chain.
    */
  def stage(name: String, conf: String)(compute: => DataFrame): DataFrame = {
    val fp = advance(name, conf)
    if (!enabled) return compute
    val root = Paths.get(dir, name)
    val data = root.resolve("data")
    val marker = root.resolve("_DONE")
    val sealedOk = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8").trim == fp
    if (sealedOk) {
      nHits += 1
      spark.read.parquet(data.toString)
    } else {
      nMisses += 1
      Files.createDirectories(root)
      Files.deleteIfExists(marker) // invalidate BEFORE touching the data
      // sweep orphan tmp markers from runs that crashed between writing
      // _DONE.tmp-<uuid> and the atomic move — nothing else cleans them
      val sweep = Files.list(root)
      try sweep.filter(p => p.getFileName.toString.startsWith("_DONE.tmp-"))
        .forEach(p => Files.deleteIfExists(p))
      finally sweep.close()
      val df = compute
      df.write.mode("overwrite").parquet(data.toString)
      val tmp = root.resolve(s"_DONE.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      Files.write(tmp, fp.getBytes("UTF-8"))
      Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      spark.read.parquet(data.toString)
    }
  }
}

object StageStore {

  /** A pass-through store: every `stage` computes, nothing persists. The
    * streaming twin always uses this — its resumability is the epoch
    * replay contract, not stage files.
    */
  def disabled(spark: SparkSession): StageStore = new StageStore(spark, "", "")

  private[pipeline] def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Cheap CONTENT fingerprint of a data directory: md5 over the sorted
    * recursive file listing (path, length, mtime). Mixed into the chain
    * seed so a resume dir sealed against yesterday's corpus is invalidated
    * when the data at the SAME path is appended, rewritten or compacted —
    * path identity alone would silently reuse sealed stages and emit stale
    * output on exactly the multi-day reruns resume exists for. mtime+size
    * is the standard make/rsync staleness test: it never misses a rewrite
    * that changes either, and a byte-identical rewrite that refreshes
    * mtimes merely recomputes (safe direction). Cost: one namenode listing
    * of the input dir — metadata only, no data read; goes through the
    * Hadoop FS API so it prices the same on HDFS/S3A as on local disk.
    * The walk uses `listStatus`, not `listFiles`: a `LocatedFileStatus`
    * copies each file's permissions, which the local file system reads
    * by forking a process per file: 34 ms against 0.35 ms per call on a
    * 10-table dir (4-vCPU VM), paid on every [[graft.queries.Memo]]
    * lookup.
    */
  def contentFingerprint(spark: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(s: org.apache.hadoop.fs.FileStatus): Seq[String] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files)
      else Seq(s"${s.getPath.toUri.getPath}|${s.getLen}|${s.getModificationTime}")
    md5hex("graft-content-fp|" + files(fs.getFileStatus(path)).sorted.mkString("\n"))
  }
}
