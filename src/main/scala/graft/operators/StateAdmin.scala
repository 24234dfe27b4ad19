package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Unified administration for STANDING state — the one policy-driven
  * sweep that keeps a rolling deployment's storage debts bounded, instead
  * of each surface relying on its owner remembering to call its own
  * maintenance entry point.
  *
  * The debts it settles, and where they come from:
  *
  *  - **Bucketed-state file growth.** Every rolling-ingest surface
  *    advances by bucket-aligned append ([[Layout.appendBucketed]]: the
  *    dedup state, aggregate partials, graph edge partials, media bands,
  *    BM25 postings) — one new file per bucket per epoch, so after E
  *    epochs every probe pays E parquet footers + E sorted runs per
  *    bucket. [[Compaction.compactBucketed]] settles it; StateAdmin
  *    decides WHEN: on an epoch cadence, or early when a table's file
  *    count crosses the ceiling, and never for a table already at one
  *    file per bucket (a full-table rewrite must not run for nothing).
  *  - **Snapshot-version growth.** A stream that publishes through
  *    [[graft.sinks.SnapshotStore]] gains one retained version per epoch
  *    forever unless someone vacuums; the policy's retention bound runs
  *    on the same cadence.
  *
  * (The stream's own epoch-partitioned tables are NOT administered here:
  * their growth is already bounded by [[graft.pipeline.CorpusStream
  * .vacuum]] — superseded comps snapshots trimmed after every committed
  * epoch — and the watermark read discipline; their per-epoch partitions
  * are written once and immutable.)
  *
  * Failure stance: administration is ADVISORY, exactly like the ANN-index
  * maintenance it rides next to — a compaction failure leaves the
  * UN-compacted (slower but correct) state serving, so the stream hook
  * logs and retries at the next cadence instead of blocking ingest.
  * Content safety is [[Compaction]]'s contract (hash-verified staged
  * swap, crash-recoverable at every step), not re-proved here;
  * StateAdminSpec pins the POLICY: ceilings hold across epochs, probes
  * read identical rows after a sweep, no-op cadences touch nothing.
  */
object StateAdmin {

  /** When to administer. `everyEpochs` is the cadence; `maxFilesPerTable`
    * triggers an early compaction of a table whose probe cost crossed the
    * ceiling between cadence points; `keepSnapshots` is the version
    * retention for the snapshot vacuum.
    */
  final case class Policy(everyEpochs: Int = 8,
                          maxFilesPerTable: Long = 64,
                          keepSnapshots: Int = 3) {
    require(everyEpochs >= 1, s"everyEpochs must be >= 1, got $everyEpochs")
    require(maxFilesPerTable >= 1, s"maxFilesPerTable must be >= 1")
    require(keepSnapshots >= 1, s"keepSnapshots must be >= 1")
  }

  /** One bucketed standing table: its name, bucket key and bucket count
    * (the spec its writers used), plus the optional fold
    * (aggregate partials collapsed per key, see
    * [[Compaction.compactBucketed]]) to apply while compacting.
    */
  final case class Target(table: String, key: String, buckets: Int,
                          fold: DataFrame => DataFrame = identity)

  /** What one administration pass did. `checked` counts the targets that
    * exist; `compacted` the ones actually rewritten; `failed` the ones
    * whose compaction raised (table → message) — their un-compacted state
    * keeps serving and the next cadence retries them.
    */
  final case class Report(epoch: Long, checked: Int,
                          compacted: Seq[Compaction.Stats],
                          failed: Seq[(String, String)],
                          snapshotVacuumed: Boolean)

  /** Run one administration pass for `epoch`. Deterministic and
    * idempotent: re-running the same epoch finds every table already at
    * one file per bucket and does nothing. Failure isolation is
    * PER-TARGET: one table's failed compaction ([[Compaction]]'s staged
    * swap guarantees the live table is untouched) must not starve the
    * remaining targets or the snapshot vacuum of their administration.
    */
  def administer(s: SparkSession, epoch: Long, targets: Seq[Target],
                 policy: Policy,
                 snapshotRoot: Option[String] = None): Report = {
    val cadenceDue = epoch % policy.everyEpochs == 0
    val present = targets.filter(t => s.catalog.tableExists(t.table))
    val outcomes = present.flatMap { t =>
      try {
        val files = Compaction.fileCount(s, t.table)
        val due = cadenceDue || files > policy.maxFilesPerTable
        // already at one file per bucket: a rewrite buys nothing
        if (due && files > t.buckets)
          Some(Right(Compaction.compactBucketed(s, t.table, t.key, t.buckets, t.fold)))
        else None
      } catch {
        case e: Throwable => Some(Left(t.table -> e.getMessage))
      }
    }
    val vac = cadenceDue && snapshotRoot.nonEmpty
    if (vac)
      graft.sinks.SnapshotStore.vacuum(snapshotRoot.get, policy.keepSnapshots)
    Report(epoch, present.size,
      outcomes.collect { case Right(st) => st },
      outcomes.collect { case Left(f) => f },
      vac)
  }
}
