package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted standing-corpus dedup state — the piece that turns
  * incremental near-dup detection from "recompute the corpus" into "scan
  * pre-bucketed state", which is the actual rolling-ingest contract at
  * 100 TB: the corpus's MinHash band table and distinct-token rows are
  * written ONCE as bucketed tables, and every incoming batch probes them
  * by reading — never rebuilding — them.
  *
  * Two tables per corpus:
  *  - `<prefix>_bands_<dir>`: [[Dedup.longBands]] rows, bucketed + sorted
  *    on the fused `band_key` — exactly the probe join's one equi key, so
  *    the corpus side of the band join needs NO exchange (Spark requires
  *    bucket columns == join keys for co-partitioning); only the (small)
  *    incoming batch shuffles to match the bucket layout.
  *  - `<prefix>_toks_<dir>`: distinct (id, token) rows, bucketed + sorted
  *    on the id. The verify stage's participant semi-join clusters on the
  *    id, so the corpus-side token scan is exchange-free too.
  *
  * Bucket count is fixed at write time — size it for the TARGET corpus
  * (buckets ≈ corpus / healthy-partition-size), exactly like
  * [[Layout.writeBucketed]] documents.
  */
object DedupState {

  /** Catalog table names for one corpus state. `comps` is the standing
    * component-assignment table ([[writeComps]]) — written only by corpora
    * that maintain cluster state incrementally. `spans` is the standing
    * winnowed span-fingerprint table ([[writeSpans]]) — written only by
    * corpora that run incremental span-level dedup.
    */
  final case class Names(bands: String, toks: String, comps: String,
                         spans: String)

  /** Deterministic, catalog-safe names derived from the corpus dir
    * ([[Layout.stateName]]).
    */
  def names(prefix: String, dir: String): Names =
    Names(Layout.stateName(s"${prefix}_bands", dir),
          Layout.stateName(s"${prefix}_toks", dir),
          Layout.stateName(s"${prefix}_comps", dir),
          Layout.stateName(s"${prefix}_spans", dir))

  /** Build and persist the corpus state: distinct-token rows plus the
    * long-form LSH band table, both bucketed for exchange-free probes.
    * Overwrites any previous state under the same names (idempotent).
    */
  def write(corpus: DataFrame, idCol: String, textCol: String,
            k: Int, r: Int, n: Names, buckets: Int): Unit = {
    // the token rows feed BOTH writes (band derivation + their own table);
    // checkpoint so the corpus tokenize runs once in this setup step
    val toks = Dedup.distinctTokenRows(corpus, idCol, textCol).transform(Materialize.frame)
    val bands = Dedup.minhashBands(
      Dedup.minhashSignatures(toks, idCol, k), idCol, k, r)
    Layout.writeBucketed(Dedup.longBands(bands, idCol, k / r), "band_key", n.bands, buckets)
    Layout.writeBucketed(toks, idCol, n.toks, buckets)
  }

  /** Epoch-advance: absorb one processed batch into the standing state —
    * `merge(state, batch) ≡ write(corpus ∪ batch)` on all four tables
    * (DedupStateMergeSpec pins the row-for-row equivalence) WITHOUT the
    * full rebuild a naive `state := write(corpus ∪ batch)` pays every
    * ingest epoch. The rolling-ingest cost profile this buys at 100 TB:
    *
    *  - bands / toks / spans: bucket-aligned APPENDS of batch-sized
    *    frames — the standing tables are never rewritten or even read.
    *    (Batch ids are disjoint from corpus ids by the ingest contract,
    *    so per-doc rows from the batch union cleanly with the standing
    *    rows; that is exactly what a from-scratch build would emit.)
    *  - comps: the already-proven contraction (see
    *    [[graft.queries.DedupQueries.clustersIncremental]]) — corpus
    *    endpoints of the verified batch edges collapse through their
    *    stored comp id, CC runs on the BATCH-sized contracted graph, and
    *    the standing assignments are rewritten through a bounded relabel
    *    map (only comps actually bridged by the batch change labels).
    *    The assignment table is one row per doc — the only standing table
    *    this touches wholesale, and the smallest by orders of magnitude.
    *
    * Comp ids stay the component's min member doc id: a standing comp id
    * IS its min member, every batch id is newer than every corpus id, so
    * the contracted min is the true global min.
    *
    * Callers supply the batch-side frames (token rows, long-form bands,
    * winnowed spans) and the VERIFIED near-dup edges among batch∪corpus
    * ids — the query layer owns K/R/threshold; this owns the state
    * transition. All inputs are materialized before any write so the
    * probe frames can never observe a half-advanced state.
    *
    * CRASH CONTRACT: the four writes are individually atomic (Spark
    * job-level) but not jointly — merge is NOT safe to blindly re-run
    * after a mid-transition crash (the appends would duplicate batch
    * rows). A driver that can crash between writes must either key
    * epochs idempotently ([[graft.pipeline.CorpusStream]] is the
    * reference implementation: epoch-partitioned tables, per-epoch
    * partition overwrite, committed-epoch marker read-side filter,
    * kill-at-every-write-tested) or fall back to the from-scratch
    * rebuild ([[write]] is idempotent) on recovery.
    */
  def merge(s: SparkSession, idCol: String, batchIds: DataFrame,
            batchToks: DataFrame, batchBands: DataFrame,
            batchSpans: DataFrame, verifiedEdges: DataFrame,
            n: Names, buckets: Int): Unit = {
    val updated = mergedComps(s, idCol, batchIds, verifiedEdges, comps(s, n))
    Layout.appendBucketed(batchBands, "band_key", n.bands, buckets)
    Layout.appendBucketed(batchToks, idCol, n.toks, buckets)
    Layout.appendBucketed(batchSpans, "span_md5", n.spans, buckets)
    writeComps(updated, idCol, n, buckets)
  }

  /** The comps transition [[merge]] applies, reusable against ANY standing
    * assignment frame (the streaming curation twin maintains its own):
    * contract corpus endpoints of the verified batch edges through
    * `standing`, CC the batch-sized contracted graph, and return the full
    * updated assignment — standing rows relabeled through the bounded
    * comp→comp map, batch rows appended. The result is EAGERLY
    * materialized ([[Materialize.frame]]) so callers can overwrite the table or
    * state it was derived from.
    */
  def mergedComps(s: SparkSession, idCol: String, batchIds: DataFrame,
                  verifiedEdges: DataFrame, standing: DataFrame): DataFrame = {
    val cmap = standing.select(col(idCol).as("cdoc"), col("comp").as("cid"))
    val contracted = verifiedEdges
      .join(cmap.withColumnRenamed("cdoc", "a").withColumnRenamed("cid", "ca"),
            Seq("a"), "left")
      .join(cmap.withColumnRenamed("cdoc", "b").withColumnRenamed("cid", "cb"),
            Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"),
              coalesce(col("cb"), col("b")).as("b"))
      .transform(Materialize.frame)
    val touched = contracted.select(col("a").as(idCol))
      .unionByName(contracted.select(col("b").as(idCol)))
    val nodes = batchIds.select(col(idCol)).unionByName(touched).distinct()
    val cc = Dedup.connectedComponents(contracted, nodes, idCol)
    val batchAssign = cc.join(batchIds.select(idCol), Seq(idCol), "left_semi")
    val relabel = cc.join(batchIds.select(idCol), Seq(idCol), "left_anti")
      .select(col(idCol).as("__oldc"), col("comp").as("__newc"))
    standing
      .join(relabel, col("comp") === col("__oldc"), "left")
      .select(col(idCol), coalesce(col("__newc"), col("comp")).as("comp"))
      .unionByName(batchAssign)
      // materialize BEFORE the caller overwrites the frame this reads
      // (reliable under spark.graft.checkpoint.dir, like every CC round)
      .transform(Materialize.frame)
  }

  /** Persist the standing component assignments `(id, comp)` — the third
    * state table, maintained by corpora that merge new batches into their
    * cluster structure incrementally ([[graft.queries.DedupQueries
    * .clustersIncremental]]): contracting corpus endpoints through these
    * assignments lets a batch merge touch only comp-ids + batch-ids, never
    * the corpus row set. Bucketed on the id — the expansion join's key.
    */
  def writeComps(comps: DataFrame, idCol: String, n: Names, buckets: Int): Unit =
    Layout.writeBucketed(comps, idCol, n.comps, buckets)

  /** The stored component assignments (bucketed scan on the id). */
  def comps(s: SparkSession, n: Names): DataFrame = s.table(n.comps)

  /** Persist the standing winnowed span fingerprints
    * `(doc_id, start, span_md5)` — the span-level analogue of the band
    * table: an incoming batch's winnowed windows probe this table on
    * `span_md5` to find cross-corpus duplicated spans, so it is bucketed
    * + sorted on exactly that key and the corpus side of the probe join
    * needs NO exchange. Same rolling-ingest shape as [[write]]: written
    * once per ingest epoch, then only read.
    */
  def writeSpans(spans: DataFrame, n: Names, buckets: Int): Unit =
    Layout.writeBucketed(spans, "span_md5", n.spans, buckets)

  /** The stored winnowed span fingerprints (bucketed scan on `span_md5`). */
  def spans(s: SparkSession, n: Names): DataFrame = s.table(n.spans)

  /** The stored long-form band table (bucketed scan on `band_key`). */
  def bands(s: SparkSession, n: Names): DataFrame = s.table(n.bands)

  /** The stored distinct-token rows (bucketed scan on the id). */
  def toks(s: SparkSession, n: Names): DataFrame = s.table(n.toks)

  /** Whether both state tables exist in the session catalog. */
  def exists(s: SparkSession, n: Names): Boolean =
    s.catalog.tableExists(n.bands) && s.catalog.tableExists(n.toks)

  /** Compact every state table that exists back to one file per bucket —
    * the periodic maintenance that bounds probe-side read cost after E
    * epochs of [[merge]] appends (E files per bucket otherwise). Content
    * is row-identical (hash-verified before the swap) and the bucket spec
    * survives, so the exchange-free probe contract is untouched; the swap
    * itself is the staged two-rename protocol of
    * [[Compaction.compactBucketed]], safe to re-run after any crash.
    * Returns one [[Compaction.Stats]] per table compacted.
    */
  def compact(s: SparkSession, idCol: String, n: Names,
              buckets: Int): Seq[Compaction.Stats] =
    Seq((n.bands, "band_key"), (n.toks, idCol),
        (n.comps, idCol), (n.spans, "span_md5"))
      .collect { case (t, k) if s.catalog.tableExists(t) =>
        Compaction.compactBucketed(s, t, k, buckets)
      }
}
