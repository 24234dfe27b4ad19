package graft.sinks

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

/** Transactional snapshot-swap publish for parquet tables — the atomic
  * write path parquet itself lacks (the reference's BigQuery sink at least
  * gets atomic load jobs, `/root/reference/dags/google_trends_to_bigquery
  * .py:150-152`; a bare `.write.mode("overwrite")` deletes the old data
  * BEFORE the new data exists, so a crash mid-write leaves nothing).
  *
  * Layout under `root/`:
  * {{{
  *   _staging/v00000007-<token>/   in-flight writes (never read)
  *   v00000006/                    immutable published snapshots
  *   v00000007/
  *   _CURRENT                      one-line pointer: "v00000007"
  * }}}
  *
  * Publish protocol: (1) write the frame to a fresh `_staging` dir while an
  * [[Observation]] rides the write job collecting row count + an
  * order-independent content hash; (2) read the staged files BACK and
  * recompute both — this validates that what landed on disk is complete and
  * readable, not just that the job didn't throw; (3) atomically rename the
  * staging dir to its version dir; (4) atomically swap the `_CURRENT`
  * pointer (write a temp file, `ATOMIC_MOVE` it over). Readers resolve
  * `_CURRENT` then read an immutable dir, so they see the old snapshot or
  * the new one, never a mix.
  *
  * Crash behavior, by failure point:
  *  - during the staging write, or validation failure: `_CURRENT` untouched,
  *    old snapshot fully readable; the orphan staging dir is swept by the
  *    next publish.
  *  - after the version-dir rename, before the pointer swap: old snapshot
  *    still live (readers follow the pointer); the orphan version dir is
  *    skipped by version numbering (next publish takes max existing + 1)
  *    and removable by [[vacuum]].
  *  - during the pointer swap: `ATOMIC_MOVE` of a single file — readers see
  *    the old or the new pointer, never a torn one.
  *  A re-run after ANY of these converges: publish is append-then-flip, so
  *  repeating it creates the next version with identical content.
  *
  * Scale posture: this runs on any filesystem with atomic rename (POSIX,
  * HDFS). On an object store, directory rename is not atomic — but the
  * pointer-file indirection is exactly what still works there: stage to a
  * versioned PREFIX (no rename needed, staging dir IS the version dir) and
  * swap the single `_CURRENT` object, whose PUT is atomic per object. The
  * protocol is single-writer (a scheduler slot), many-reader; snapshots are
  * immutable so old versions double as time travel ([[readVersion]]) and
  * rollback targets until [[vacuum]]ed.
  */
object SnapshotStore {

  private val CurrentFile = "_CURRENT"
  private val StagingDir = "_staging"
  private val VersionFormat = "v%08d"

  private def versionName(v: Long): String = VersionFormat.format(v)

  /** Parse "v00000042" → 42; None for non-version names. */
  private def parseVersion(name: String): Option[Long] =
    if (name.length == 9 && name.startsWith("v") && name.drop(1).forall(_.isDigit))
      Some(name.drop(1).toLong)
    else None

  /** The published version `_CURRENT` points at, if any. */
  def currentVersion(root: String): Option[Long] = {
    val p = Paths.get(root, CurrentFile)
    if (!Files.exists(p)) None
    else parseVersion(new String(Files.readAllBytes(p), "UTF-8").trim)
  }

  /** Highest version dir on disk (orphans included) — the next publish
    * takes max + 1, so a crashed-before-swap version dir is never reused.
    */
  private def maxVersionOnDisk(root: String): Long = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) -1L
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .flatMap(p => parseVersion(p.getFileName.toString))
          .foldLeft(-1L)(math.max)
      } finally s.close()
    }
  }

  /** Read the live snapshot (resolving `_CURRENT`). */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root,
      currentVersion(root).getOrElse(throw new IllegalStateException(
        s"no published snapshot under $root (missing $CurrentFile)")))

  /** Time travel: read a specific published (or orphaned) version. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    spark.read.parquet(Paths.get(root, versionName(version)).toString)

  /** Row count + order-independent content hash, as aggregate columns.
    * The hash is a decimal(38,0) sum of per-row xxhash64 over ALL columns —
    * insensitive to partitioning and row order (the same frame written with
    * any layout validates equal), and overflow-free under ANSI mode up to
    * ~10^19 rows (|xxhash64| ≤ 2^63, so the sum stays within 38 digits).
    */
  private def integrityAggs(df: DataFrame) = Seq(
    count(lit(1)).cast("long").as("rows"),
    coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
      .cast("decimal(38,0)").as("hash"))

  /** [[integrityAggs]] computed in one pass over `df`: (rows, hash). The
    * read-back check of every staged write, here and in
    * [[graft.operators.Compaction]].
    */
  private[graft] def integrity(df: DataFrame): (Long, String) = {
    val aggs = integrityAggs(df)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0), String.valueOf(r.getDecimal(1)))
  }

  /** Publish `df` as the next snapshot version of `root`. Returns the
    * published version number. See the object doc for the protocol and
    * crash behavior; `validator` (optional) sees the staged READ-BACK
    * frame before the swap — throw to abort (e.g. schema or invariant
    * checks), leaving the previous snapshot live.
    */
  def publish(df: DataFrame, root: String,
              validator: DataFrame => Unit = _ => ()): Long = {
    val spark = df.sparkSession
    Files.createDirectories(Paths.get(root, StagingDir))
    sweepStaging(root)
    val version = math.max(maxVersionOnDisk(root),
      currentVersion(root).getOrElse(-1L)) + 1L
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = Paths.get(root, StagingDir, s"${versionName(version)}-$token")

    // (1) stage, with the integrity stats riding the write job itself
    val obs = Observation(s"publish-$token")
    val aggs = integrityAggs(df)
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(staging.toString)
    val observed = obs.get
    val writtenRows = observed("rows").asInstanceOf[Long]
    val writtenHash = String.valueOf(observed("hash"))

    // (2) validate the files, not the job: read back and recompute
    val staged = spark.read.parquet(staging.toString)
    val (stagedRows, stagedHash) = integrity(staged)
    if (stagedRows != writtenRows || stagedHash != writtenHash) {
      throw new IllegalStateException(
        s"staged snapshot fails integrity check: wrote $writtenRows rows " +
          s"(hash $writtenHash) but staging reads back $stagedRows " +
          s"(hash $stagedHash) — aborting publish, ${versionName(version)} " +
          "not swapped in")
    }
    validator(staged)
    Files.write(staging.resolve("_MANIFEST.json"),
      s"""{"version":$version,"rows":$stagedRows,"hash":"$stagedHash"}"""
        .getBytes("UTF-8"))

    // (3) staging → version dir (atomic on rename-capable filesystems)
    val versionDir = Paths.get(root, versionName(version))
    Files.move(staging, versionDir, StandardCopyOption.ATOMIC_MOVE)

    // (4) pointer swap: temp file + atomic replace
    val tmp = Paths.get(root, s"$CurrentFile.tmp-$token")
    Files.write(tmp, versionName(version).getBytes("UTF-8"))
    Files.move(tmp, Paths.get(root, CurrentFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    version
  }

  /** Transactional MERGE (upsert): rows of `changes` whose `key` exists in
    * the live snapshot REPLACE that row; the rest INSERT — the
    * `c20_merge_upsert` shape (one full-outer join + per-column coalesce,
    * AQE free to broadcast a small batch), published atomically as the
    * next version. The previous snapshot stays readable throughout and
    * afterwards (rollback = re-pointing `_CURRENT`). `changes` must carry
    * the snapshot's schema.
    */
  def mergeUpsertPublish(spark: SparkSession, root: String,
                         changes: DataFrame, key: String): Long = {
    val cur = read(spark, root)
    require(changes.columns.sorted.sameElements(cur.columns.sorted),
      s"changes schema ${changes.columns.mkString(",")} must match snapshot " +
        s"schema ${cur.columns.mkString(",")}")
    val dataCols = cur.columns.filterNot(_ == key).toSeq
    val c = changes.select(col(key).as("__ck") +:
      dataCols.map(n => col(n).as(s"__c_$n")): _*)
    val merged = cur.join(c, col(key) === col("__ck"), "full_outer")
      .select((coalesce(col("__ck"), col(key)).as(key) +:
        dataCols.map(n => coalesce(col(s"__c_$n"), col(n)).as(n))): _*)
    publish(merged, root)
  }

  /** Delete snapshot versions older than the newest `keep` (the live
    * version is always kept regardless). Orphan staging dirs are swept on
    * every publish; orphan VERSION dirs (crash between rename and swap)
    * are removed here too once out of the keep window.
    */
  def vacuum(root: String, keep: Int = 2): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val live = currentVersion(root)
    val dir = Paths.get(root)
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    val versions = try {
      s.iterator().asScala
        .flatMap(p => parseVersion(p.getFileName.toString)).toSeq.sorted
    } finally s.close()
    versions.dropRight(keep).filterNot(live.contains)
      .foreach(v => deleteRecursively(dir.resolve(versionName(v))))
  }

  /** Remove orphan staging dirs from crashed or aborted publishes. Safe
    * under the single-writer assumption: nothing reads `_staging`, and no
    * other publish is in flight.
    */
  private def sweepStaging(root: String): Unit = {
    val st = Paths.get(root, StagingDir)
    if (Files.exists(st)) {
      import scala.jdk.CollectionConverters._
      val s = Files.list(st)
      try s.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally s.close()
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
