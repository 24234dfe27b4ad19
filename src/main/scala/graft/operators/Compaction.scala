package graft.operators

import graft.sinks.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Crash-safe compaction for the bucketed standing-state tables.
  *
  * Every rolling-ingest surface in this engine advances its standing state
  * by bucket-aligned APPEND ([[Layout.appendBucketed]]: the dedup state,
  * aggregate partials, graph edge partials, media bands, BM25 postings):
  * the standing table is never read or rewritten on ingest, which is
  * exactly the 100 TB cost profile — but each epoch adds one file per
  * bucket, so after E epochs every bucket holds E files. Co-partitioning
  * survives (the bucketed-join guarantee is on the bucket hash, not the
  * file count), but scan cost does not: E parquet footers + E sorted runs
  * per bucket, and on an object store E GETs per bucket per probe.
  * Compaction periodically folds each bucket
  * back to one file, restoring day-one read cost without ever giving up
  * the append-cheap ingest path.
  *
  * The naive rewrite — `saveAsTable(Overwrite)` over the live name — is a
  * DROP-then-recreate: a crash mid-write loses the entire standing state.
  * This operator is the engine's one staged swap, a two-rename protocol:
  *
  *  1. stage the compacted copy under `<t>__cstage` (a side name nothing
  *     reads; a partial stage from an earlier crash is dropped and
  *     rewritten),
  *  2. read the staged FILES back and verify row count + order-independent
  *     content hash against the frame that was written (the
  *     [[graft.sinks.SnapshotStore.integrity]] check: trust the disk, not
  *     the job),
  *  3. COMMIT POINT: `ALTER TABLE t RENAME TO t__cretired` — the retired
  *     marker's existence proves the stage was complete and verified,
  *  4. promote: `ALTER TABLE t__cstage RENAME TO t`,
  *  5. drop the retired table.
  *
  * Crash at any point is recoverable by [[recover]] (run automatically at
  * the start of every compaction): before the commit point the live table
  * is untouched and the orphan stage is swept; after it, the retired
  * marker proves the stage complete, so recovery promotes it. The only
  * window where the live NAME is vacant is between the two renames, and
  * the retired marker makes that window self-healing (CompactionSpec kills
  * the protocol after every step prefix).
  *
  * READER visibility: these standing-state tables are serving tables —
  * probes read them — and during the rename window (steps 3→4, two
  * catalog operations, not data moves) a concurrent reader resolving the
  * live name gets a transient `TABLE_OR_VIEW_NOT_FOUND`. The session
  * catalog has no atomic two-table swap, so the contract is: the vacancy
  * is bounded (milliseconds — no data is copied inside the window),
  * self-healing (the retired marker lets any next toucher finish the
  * promote), and NEVER wrong — a reader sees the old state, the new
  * state, or a retriable not-found, never a torn mixture. Readers of
  * compactable state should treat not-found as retriable (one retry
  * suffices in-process; schedule compaction in quiesced windows when
  * probes can't retry). The single-writer stance above covers writers;
  * this paragraph is the reader half.
  *
  * Content contract: with the default identity `fold`, the compacted
  * table is row-for-row the same multiset (verified by hash before the
  * commit point — CompactionSpec pins probe-result identity and that the
  * bucket spec, and therefore the exchange-free probe plan, survives the
  * rename). With a caller `fold` (aggregate partials collapsed to one row
  * per key), the fold output is what is hash-verified on disk;
  * reader-equivalence is the fold's own contract (see [[compactBucketed]]).
  */
object Compaction {

  /** What one compaction did: parquet files and rows before/after. */
  final case class Stats(table: String, filesBefore: Long, filesAfter: Long,
                         rowsBefore: Long, rowsAfter: Long)

  private def stageName(t: String) = s"${t}__cstage"
  private def retiredName(t: String) = s"${t}__cretired"

  /** Parquet data files behind a catalog table — the quantity compaction
    * exists to bound (per-probe footer reads scale with it). A recursive
    * listing of the table location: no Spark job, no table scan, so the
    * [[StateAdmin]] ceiling check can run per target per epoch. Counts
    * non-hidden files (skips `_SUCCESS` and dot-files), which equals the
    * distinct `input_file_name()` count whenever every data file holds
    * rows — always true for the append-only bucketed writers (pinned in
    * CompactionSpec); an empty file only ever OVER-counts, which for a
    * compaction trigger errs safe.
    */
  def fileCount(s: SparkSession, table: String): Long = {
    val ident = s.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(
      s.sessionState.catalog.getTableMetadata(ident).location)
    val fs = loc.getFileSystem(s.sessionState.newHadoopConf())
    val it = fs.listFiles(loc, true)
    var n = 0L
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) n += 1
    }
    n
  }

  /** Heal a crashed compaction of `table`. Idempotent; no-op when clean.
    *  - retired marker present: the stage was complete and verified when
    *    the commit rename ran, so promote it if the live name is vacant,
    *    then drop the marker.
    *  - orphan stage without a marker: a pre-commit crash; the live table
    *    was never touched, so just sweep the stage.
    */
  def recover(s: SparkSession, table: String): Unit = {
    if (s.catalog.tableExists(retiredName(table))) {
      if (!s.catalog.tableExists(table)) {
        require(s.catalog.tableExists(stageName(table)),
          s"compaction of $table crashed between its renames but the staged " +
            "copy is missing — state is unrecoverable from markers alone; " +
            s"restore $table from ${retiredName(table)} manually")
        s.sql(s"ALTER TABLE ${stageName(table)} RENAME TO $table")
      }
      s.sql(s"DROP TABLE IF EXISTS ${retiredName(table)}")
    }
    if (s.catalog.tableExists(stageName(table)))
      s.sql(s"DROP TABLE IF EXISTS ${stageName(table)}")
  }

  /** Compact the bucketed catalog table `table` (bucketed + sorted on
    * `key` with `buckets` buckets — the spec its writers used) back to one
    * file per bucket, optionally folding rows through `fold` first.
    * Returns before/after [[Stats]]. Safe to re-run after any crash.
    *
    * @param fold the table's own row-combining aggregation, e.g. collapse
    *   accumulated per-epoch aggregate partials to one row per key. It
    *   must be reader-equivalent: readers that fold the table with the
    *   same aggregation get the same answer before and after. That holds
    *   for ALGEBRAIC aggregates, whose partials form a commutative monoid
    *   (count / sum / min / max and everything derived from them — avg,
    *   rates, ratios): reassociating them changes nothing (AggStateSpec
    *   pins it). Holistic aggregates (exact percentiles, exact distinct)
    *   do not decompose; keep those as mergeable sketches
    *   ([[graft.functions.Hll]], [[graft.functions.Kmv]]), whose binary
    *   values are themselves monoid partials and fold the same way.
    */
  def compactBucketed(s: SparkSession, table: String, key: String,
                      buckets: Int,
                      fold: DataFrame => DataFrame = identity): Stats =
    compactUpTo(s, table, key, buckets, fold, Int.MaxValue)

  /** [[compactBucketed]] with a step budget — the crash-injection hook
    * CompactionSpec uses to kill the protocol after every step prefix.
    */
  private[graft] def compactUpTo(s: SparkSession, table: String, key: String,
                                 buckets: Int, fold: DataFrame => DataFrame,
                                 maxSteps: Int): Stats = {
    recover(s, table) // finish anything a previous crash left behind
    require(s.catalog.tableExists(table), s"no such table to compact: $table")
    val filesBefore = fileCount(s, table)
    val rowsBefore = s.table(table).count()

    // Materialize the folded frame BEFORE any write: the staged write must
    // never read the table mid-protocol, and under spark.graft.checkpoint
    // .dir the materialization is itself fault-tolerant.
    val folded = Materialize.frame(fold(s.table(table)))
    val (wantRows, wantHash) = SnapshotStore.integrity(folded)

    var steps = 0
    def step(f: => Unit): Unit = if (steps < maxSteps) { f; steps += 1 }

    // (1) stage the compacted copy under a side name nothing reads
    step {
      s.sql(s"DROP TABLE IF EXISTS ${stageName(table)}")
      Layout.writeBucketed(folded.repartition(buckets, col(key)), key,
        stageName(table), buckets)
    }
    // (2) validate the staged FILES against the frame that was written
    step {
      val (gotRows, gotHash) = SnapshotStore.integrity(s.table(stageName(table)))
      if (gotRows != wantRows || gotHash != wantHash) {
        s.sql(s"DROP TABLE IF EXISTS ${stageName(table)}")
        throw new IllegalStateException(
          s"staged compaction of $table fails integrity: wrote $wantRows " +
            s"rows (hash $wantHash) but staging reads back $gotRows " +
            s"(hash $gotHash) — stage dropped, live table untouched")
      }
    }
    // (3) COMMIT POINT: retire the live table (only after a verified stage)
    step(s.sql(s"ALTER TABLE $table RENAME TO ${retiredName(table)}"))
    // (4) promote the staged copy to the live name
    step(s.sql(s"ALTER TABLE ${stageName(table)} RENAME TO $table"))
    // (5) cleanup
    step(s.sql(s"DROP TABLE IF EXISTS ${retiredName(table)}"))

    if (steps < 5) Stats(table, filesBefore, -1L, rowsBefore, -1L) // crashed
    else Stats(table, filesBefore, fileCount(s, table), rowsBefore, wantRows)
  }
}
