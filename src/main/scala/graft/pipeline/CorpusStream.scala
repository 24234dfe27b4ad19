package graft.pipeline

import graft.functions.Bloom
import graft.operators.{Dedup, DedupState, Layout, Materialize, TextAnalysis}
import graft.sinks.TableSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of [[CorpusJob]] — the curation funnel as a rolling
  * `foreachBatch` ingest against persisted dedup state. Each micro-batch
  * epoch:
  *
  *  1. advances the HEAD state with batch-sized work only — new text/bow
  *     hashes are appended (never rescanned: with the epoch contract that
  *     batch ids exceed all standing ids — ENFORCED per batch against the
  *     persisted max, see [[ingestUpTo]] — an established min-id keeper
  *     can never be unseated), batch simhash fingerprints are appended, and
  *     Hamming≤3 edges form from batch-self pairs plus a batch×standing
  *     banded probe ([[Dedup.hammingCrossPairs]]) — the standing side is
  *     never re-paired. Component assignments advance through the
  *     contraction transition ([[DedupState.mergedComps]]) proven
  *     equivalent to a from-scratch CC;
  *  2. republishes the curated corpus snapshot by re-running the release
  *     tail ([[CorpusJob.curateTail]] — the IDENTICAL code path the batch
  *     job runs) over the standing survivor relation.
  *
  * Why republish instead of appending curated docs: curation is not
  * append-monotone — a later epoch can merge two near-dup clusters
  * (dropping a previously published keeper) or deliver an eval doc whose
  * twin was already published (decontamination retracts it). An
  * append-only sink would have to emit retractions; a snapshot republish
  * over the survivor relation — already shrunk by the incremental dedup
  * head, and re-derived per release exactly as a production corpus release
  * re-derives its mixing/packing — is the honest semantics. That makes
  * the equivalence pin exact: after N epochs the published corpus is
  * row-identical to one batch [[CorpusJob.execute]] over the union
  * (StatefulStreamingSpec).
  *
  * ## Crash consistency (the foreachBatch retry contract)
  *
  * Structured Streaming may REPLAY a micro-batch after a failure — with
  * the same batchId — and the failure can land between any two state
  * writes. A naive multi-table append is not retry-safe: if the hash
  * table advanced but the survivor table didn't, the replay computes
  * "no new hashes" and the batch's documents are lost forever. The state
  * transition is therefore epoch-keyed and idempotent:
  *
  *  - every state table is partitioned by `epoch`; an epoch's writes go
  *    into its own partition via dynamic partition OVERWRITE, so a replay
  *    rewrites exactly what the failed attempt wrote;
  *  - every read filters to COMMITTED epochs (a marker row appended to
  *    the meta table as the LAST write of the epoch), so a half-applied
  *    epoch is invisible to its own replay and to publish;
  *  - the comps table stores one full assignment snapshot per epoch
  *    (derived from the previous epoch's snapshot — never from its own
  *    partial output), because the contraction transition is not
  *    self-idempotent; superseded snapshot partitions are dropped by
  *    [[vacuum]] (run() trims after every committed epoch);
  *  - a replay of an ALREADY-committed epoch (crash after marker, before
  *    the streaming checkpoint commit) is a no-op guard at entry;
  *  - a marker row is `(epoch, max_doc_id)`. A meta table with only the
  *    `epoch` column (an old release's schema) is refused on read: reset
  *    the stream and re-ingest. Nothing upgrades it in place.
  *
  * CorpusStreamCrashSpec kills the transition after every prefix of its
  * eight writes and proves the replay converges to the clean-run state.
  */
object CorpusStream {

  /** Catalog table names for one stream's standing state. `evals` holds
    * each epoch's ORIGINAL eval-split documents (doc_id, text) — the eval
    * side of the release tail's fuzzy decontamination probe, which must
    * see pre-dedup eval text (an eval doc deduplicated away upstream must
    * still contaminate its surviving near-twin), exactly as the batch job
    * derives it from its raw input.
    */
  final case class StateNames(hashes: String, bows: String, raw: String,
                              sims: String, comps: String, block: String,
                              evals: String, meta: String)

  def names(prefix: String): StateNames =
    StateNames(s"${prefix}_hashes", s"${prefix}_bows", s"${prefix}_raw",
               s"${prefix}_sims", s"${prefix}_comps", s"${prefix}_block",
               s"${prefix}_evals", s"${prefix}_meta")

  /** The state names [[main]] derives from the output path. */
  private[graft] def namesFor(out: String): StateNames =
    names(Layout.stateName("corpus_stream", out))

  /** Drop all state tables (test hygiene / stream reset). */
  def reset(s: SparkSession, n: StateNames): Unit =
    Seq(n.hashes, n.bows, n.raw, n.sims, n.comps, n.block, n.evals, n.meta)
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))

  /** Replace exactly the `epoch` partition of `table` (creating the
    * partitioned table on first write) — the idempotent write primitive
    * every state mutation goes through: a replayed epoch overwrites its
    * own partition and nothing else.
    */
  private def writeEpoch(df: DataFrame, table: String, epoch: Long): Unit = {
    val s = df.sparkSession
    val withE = df.withColumn("epoch", lit(epoch))
    if (!s.catalog.tableExists(table)) {
      withE.write.mode("overwrite").format("parquet")
        .partitionBy("epoch").saveAsTable(table)
    } else {
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "dynamic")
      try withE.write.mode("overwrite").insertInto(table)
      finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
    }
  }

  /** The committed high-watermark: max committed epoch + max ingested
    * doc_id, both from the meta marker rows (duplicates from a replayed
    * marker append are harmless — reads are max aggregates). Because
    * [[ingestUpTo]] admits ONLY the successor of the current watermark,
    * the committed set is exactly the contiguous range up to `hwm` — so
    * every read can filter `epoch <= hwm` (a partition-prunable range
    * predicate, constant-size no matter how long the stream has run)
    * instead of an IN-list over every epoch id ever committed, and a
    * crashed epoch's partial partitions (only ever possible at hwm + 1)
    * stay invisible.
    */
  private final case class Watermark(hwm: Option[Long], maxDocId: Option[Long])

  private def watermark(s: SparkSession, n: StateNames): Watermark = {
    if (!s.catalog.tableExists(n.meta)) return Watermark(None, None)
    if (!s.table(n.meta).columns.contains("max_doc_id"))
      throw new IllegalStateException(
        s"meta table ${n.meta} has the (epoch)-only schema of an old release " +
          "— reset the stream (CorpusStream.reset) and re-ingest")
    val r = s.table(n.meta)
      .agg(max("epoch").as("h"), max("max_doc_id").as("m")).head()
    if (r.isNullAt(0)) Watermark(None, None)
    else Watermark(Some(r.getLong(0)), Some(r.getLong(1)))
  }

  /** A state table restricted to committed epochs (`epoch <= hwm`),
    * partition column dropped — the only read path; half-applied epochs
    * are invisible.
    */
  private def stateTable(s: SparkSession, n: StateNames, table: String,
                         wm: Watermark, empty: => DataFrame): DataFrame =
    if (!s.catalog.tableExists(table) || wm.hwm.isEmpty) empty
    else s.table(table)
      .filter(col("epoch") <= wm.hwm.get).drop("epoch")

  /** The comps assignment AS OF the newest committed epoch (full snapshot
    * per epoch — see the crash-consistency note).
    */
  private def compsAt(s: SparkSession, n: StateNames, wm: Watermark,
                      empty: => DataFrame): DataFrame =
    if (wm.hwm.isEmpty || !s.catalog.tableExists(n.comps)) empty
    else s.table(n.comps).filter(col("epoch") === wm.hwm.get).drop("epoch")

  /** State-retention lever: drop comps snapshot partitions SUPERSEDED by
    * the committed high-watermark (every read uses only `epoch == hwm`;
    * older snapshots exist purely as replay targets for their own epoch,
    * which can no longer run once a later epoch committed). The other
    * state tables are DATA, not snapshots — every committed epoch's
    * partition stays live — so comps is the one unbounded-growth surface
    * a long-running stream has to trim. Safe against a concurrent replay
    * by the epoch contract: only hwm + 1 can be in flight, and it reads
    * snapshots at hwm only.
    */
  def vacuum(s: SparkSession, n: StateNames): Int = {
    val wm = watermark(s, n)
    if (wm.hwm.isEmpty || !s.catalog.tableExists(n.comps)) 0
    else {
      val stale = s.table(n.comps).select("epoch").distinct()
        .filter(col("epoch") < wm.hwm.get)
        .collect().map(_.getLong(0))
      stale.foreach(e =>
        s.sql(s"ALTER TABLE ${n.comps} DROP IF EXISTS PARTITION (epoch = $e)"))
      stale.length
    }
  }

  /** Advance the head state with one micro-batch. Epoch contract: `epoch`
    * is the SUCCESSOR of the committed high-watermark (streaming batchIds
    * are), and every `doc_id` in `batch` exceeds every id already in the
    * state (the ingest-order invariant all incremental dedup state here
    * relies on — it is what makes min-id keepers append-only). BOTH are
    * enforced loudly: a gapped epoch would let a later crash's partial
    * partitions leak under the watermark read rule, and a replayed old
    * shard (ids at or below the standing max) would silently unseat
    * nothing — the established min-id keeper would win while the shard's
    * docs vanished with no error (the round-7 review's silent-violation
    * finding). The standing max doc_id is persisted per epoch in the meta
    * marker, so the check survives restarts.
    */
  def ingest(s: SparkSession, batch: DataFrame, n: StateNames,
             epoch: Long): Unit =
    ingestUpTo(s, batch, n, epoch, Int.MaxValue)

  /** [[ingest]] with a write budget — the crash-injection hook
    * CorpusStreamCrashSpec uses to kill the transition after every write
    * prefix. All derived frames are EAGERLY materialized before the first
    * write, so a partial run leaves exactly a write prefix behind.
    */
  private[graft] def ingestUpTo(s: SparkSession, batch0: DataFrame,
                                n: StateNames, epoch: Long,
                                maxWrites: Int): Unit = {
    val wm = watermark(s, n)
    if (wm.hwm.exists(epoch <= _)) return // replay of a committed epoch: no-op
    require(wm.hwm.forall(epoch == _ + 1),
      s"epoch $epoch is not the successor of the committed high-watermark ${wm.hwm.get}")
    // ascending-ingest contract, checked against the persisted standing
    // max: the batch's id range is observed on its own checkpoint job
    // (both ends null for an empty batch)
    val (b, ids) = Materialize.observed(batch0,
      min("doc_id").as("lo"), max("doc_id").as("hi"))
    val lo = Option(ids("lo")).map(_.asInstanceOf[Long])
    val batchMaxId = Option(ids("hi")).map(_.asInstanceOf[Long])
      .getOrElse(wm.maxDocId.getOrElse(-1L))
    lo.foreach(l => wm.maxDocId.foreach(standing =>
      require(l > standing,
        s"batch min doc_id $l does not exceed the standing max " +
          s"$standing — out-of-order ingest would silently lose documents " +
          "to established min-id keepers")))
    // 1. exact dedup head: one row per NEW text hash, keeper = batch min
    val bh = b.select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
    val newHashes = bh.join(
        stateTable(s, n, n.hashes, wm, bh.limit(0)).select("h"),
        Seq("h"), "left_anti")
      .transform(Materialize.frame)
    val exactKeep = b.join(newHashes.select("doc_id"), Seq("doc_id"), "left_semi")
    // 1b. bag-of-words head over the exact keepers
    val bbh = exactKeep.select(col("doc_id"),
        md5(concat_ws(" ", sort_array(TextAnalysis.tokens(col("text"))))).as("bh"))
      .groupBy("bh").agg(min("doc_id").as("doc_id"))
    val newBows = bbh.join(
        stateTable(s, n, n.bows, wm, bbh.limit(0)).select("bh"),
        Seq("bh"), "left_anti")
      .transform(Materialize.frame)
    val bowKeep = exactKeep
      .join(newBows.select("doc_id"), Seq("doc_id"), "left_semi")
      .transform(Materialize.frame)
    // 2. near-dup head: batch fingerprints + edges vs (standing ∪ batch),
    // assignments advanced through the proven contraction transition
    val sim = Dedup.simhash(bowKeep, "doc_id", "text").transform(Materialize.frame)
    val standingSims = stateTable(s, n, n.sims, wm, sim.limit(0))
    val selfEdges = Dedup.hammingPairs(sim, "doc_id", "simhash",
      bits = 60, nBands = 4, maxHamming = 3).select("a", "b")
    val crossEdges = Dedup.hammingCrossPairs(sim, standingSims, "doc_id",
      "simhash", bits = 60, nBands = 4, maxHamming = 3).select("a", "b")
    val standingComps = compsAt(s, n, wm,
      sim.select(col("doc_id"), col("doc_id").as("comp")).limit(0))
    // mergedComps materializes its result eagerly (Materialize.frame)
    val compsSnap = DedupState.mergedComps(s, "doc_id", bowKeep.select("doc_id"),
      selfEdges.unionByName(crossEdges), standingComps)
    // 3. decontamination blocklist delta: eval docs hash ORIGINAL text;
    // the eval docs themselves also persist (the fuzzy tier's probe side)
    val blockDelta = b.filter(col("doc_id") % 10 === 0)
      .select(md5(col("text")).as("h")).transform(Materialize.frame)
    val evalDelta = b.filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text").transform(Materialize.frame)
    // ---- writes: every one replaces only this epoch's partition; the
    // marker goes LAST, so a crash anywhere leaves the epoch uncommitted
    // and the replay overwrites the same partitions
    import s.implicits._
    var writes = 0
    def w(f: => Unit): Unit = if (writes < maxWrites) { f; writes += 1 }
    w(writeEpoch(newHashes, n.hashes, epoch))
    w(writeEpoch(newBows, n.bows, epoch))
    w(writeEpoch(bowKeep, n.raw, epoch))
    w(writeEpoch(sim, n.sims, epoch))
    w(writeEpoch(blockDelta, n.block, epoch))
    w(writeEpoch(evalDelta, n.evals, epoch))
    w(writeEpoch(compsSnap, n.comps, epoch))
    w(TableSink.appendTable(Seq((epoch, batchMaxId)).toDF("epoch", "max_doc_id"), n.meta))
  }

  /** Republish the curated corpus snapshot from the standing state: derive
    * the decontaminated near-dup-free survivor set relationally (no text
    * re-hashing — the head already did that work), then run the shared
    * release tail. Returns what [[CorpusJob.execute]] returns.
    */
  def publish(s: SparkSession, n: StateNames, cfg: CorpusJob.Config,
              snapshotRoot: Option[String] = None): (DataFrame, CorpusJob.TailCounts) = {
    val wm = watermark(s, n)
    require(wm.hwm.nonEmpty, "publish before any committed ingest epoch")
    val raw = stateTable(s, n, n.raw, wm,
      sys.error("raw state table missing"))
    val keepers = compsAt(s, n, wm, sys.error("comps state table missing"))
      .filter(col("doc_id") === col("comp")).select("doc_id")
    val near = raw.join(keepers, Seq("doc_id"), "left_semi")
    val clean0 = Bloom.decontaminate(
      near.filter(col("doc_id") % 10 =!= 0), md5(col("text")),
      stateTable(s, n, n.block, wm, sys.error("block state table missing")))
    val evalDocs = stateTable(s, n, n.evals, wm,
      sys.error("evals state table missing"))
    // the input count only words the tail's empty-corpus error: by-name,
    // so a healthy publish never pays for it
    val res = CorpusJob.curateTail(s, clean0, evalDocs, raw.count(), cfg,
      StageStore.disabled(s))
    // optional versioned release: every epoch's snapshot goes through the
    // transactional SnapshotStore swap too — readers follow `_CURRENT` and
    // can never observe a half-written corpus, each epoch is a time-travel
    // version, and `vacuum` bounds retention. cfg.out stays the plain
    // latest-snapshot path either way (the batch-twin equivalence surface).
    snapshotRoot.foreach(root => graft.sinks.SnapshotStore.publish(res._1, root))
    res
  }

  /** Per-epoch ANN-index maintenance attached to the rolling ingest — the
    * consumer [[graft.operators.IndexMaintenance]] was built for: the
    * stream keeps a stored IVF snapshot next to its curated corpus, and
    * every `every`-th committed epoch audits its recall against the live
    * vectors, retraining + republishing through the transactional swap on
    * a floor breach. `vectors`/`queries` are providers (the live embedding
    * table grows with ingest — the whole reason recall decays).
    */
  final case class AnnMaintenance(
      root: String,
      vectors: SparkSession => DataFrame,
      queries: SparkSession => DataFrame,
      floorMilli: Long, k: Int, rounds: Int, dim: Int,
      every: Int = 1,
      validator: DataFrame => Unit = _ => ()) {
    require(every >= 1, s"every must be >= 1, got $every")
  }

  /** One maintenance pass that CANNOT kill the ingest: maintenance is
    * advisory (a stale-but-serving index), so a failure — including a
    * crash mid-republish, which [[graft.sinks.SnapshotStore.publish]]'s
    * protocol already confines to "old snapshot stays live" — is logged
    * and retried at the next scheduled epoch instead of failing the
    * micro-batch and blocking document ingest behind an index problem.
    */
  private[pipeline] def maintainQuietly(
      s: SparkSession, a: AnnMaintenance): Option[graft.operators.IndexMaintenance.Report] =
    try Some(graft.operators.IndexMaintenance.maintain(
      s, a.vectors(s), a.queries(s), a.root, a.floorMilli, a.k, a.rounds,
      a.dim, validator = a.validator))
    catch { case e: Throwable =>
      System.err.println("[corpus-stream] index maintenance failed (old " +
        s"snapshot stays live; retried next scheduled epoch): ${e.getMessage}")
      None
    }

  /** Policy-driven state administration attached to the rolling ingest —
    * the [[graft.operators.StateAdmin]] sweep (bucketed-state compaction
    * + snapshot-version retention) driven by the stream's own epochs the
    * way [[AnnMaintenance]] already drives index upkeep. `targets` names
    * the deployment's bucketed standing tables (dedup bands/tokens, agg
    * partials, graph edge partials, media bands, BM25 postings — whatever
    * this stream's probes read); the snapshot root administered is the
    * one `run` publishes to.
    */
  final case class Admin(targets: Seq[graft.operators.StateAdmin.Target],
                         policy: graft.operators.StateAdmin.Policy =
                           graft.operators.StateAdmin.Policy())

  /** One administration pass that CANNOT kill the ingest — same advisory
    * stance as [[maintainQuietly]]: a failed compaction leaves the
    * un-compacted (slower but correct) state serving and is retried at
    * the next cadence, never failing the micro-batch.
    */
  private[pipeline] def administerQuietly(
      s: SparkSession, epoch: Long, a: Admin,
      snapshotRoot: Option[String]): Option[graft.operators.StateAdmin.Report] =
    try {
      val r = graft.operators.StateAdmin.administer(
        s, epoch, a.targets, a.policy, snapshotRoot)
      r.failed.foreach { case (t, msg) =>
        System.err.println("[corpus-stream] state administration: compaction " +
          s"of $t failed (un-compacted state stays serving): $msg")
      }
      Some(r)
    } catch { case e: Throwable =>
      System.err.println("[corpus-stream] state administration failed " +
        s"(un-compacted state stays serving; retried next cadence): ${e.getMessage}")
      None
    }

  /** Attach the rolling ingest to a streaming documents source: every
    * micro-batch advances the head state (epoch = the streaming batchId,
    * which Structured Streaming reuses on replay — exactly what the
    * idempotent transition needs) and republishes the snapshot; with `ann`
    * configured, every `ann.every`-th epoch also runs the ANN-index
    * maintenance pass (audit → retrain-on-breach → transactional
    * republish) against the stored IVF snapshot; with `admin` configured,
    * the [[graft.operators.StateAdmin]] sweep runs on its policy cadence.
    */
  def run(source: DataFrame, cfg: CorpusJob.Config, n: StateNames,
          snapshotRoot: Option[String] = None,
          ann: Option[AnnMaintenance] = None,
          admin: Option[Admin] = None,
          checkpointDir: Option[String] = None): StreamingQuery = {
    val sink = source.writeStream
    // a DURABLE checkpoint makes the stream restartable: a new run() over
    // the same source + state names resumes from the last committed
    // offset and REPLAYS any in-flight epoch with the same batchId —
    // which is exactly the replay the epoch-keyed transition absorbs
    // idempotently (StreamChaosSpec pins it through a real executor
    // SIGKILL + restart). Without it Structured Streaming uses a temp
    // checkpoint and a restart would re-deliver from scratch.
    checkpointDir.foreach(d => sink.option("checkpointLocation", d))
    sink
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        ingest(s, batch, n, batchId)
        publish(s, n, cfg, snapshotRoot)
        // retention: superseded comps snapshots (epochs below the new
        // watermark) are dead weight once this epoch committed — trim
        // per batch so state growth is bounded by data, not by snapshots
        vacuum(s, n)
        ann.foreach(a => if (batchId % a.every == 0) maintainQuietly(s, a))
        admin.foreach(a => administerQuietly(s, batchId, a, snapshotRoot))
        ()
      }
      .start()
  }

  /** spark-submit entry — the rolling-ingest sibling of [[CorpusJob.main]]:
    * `--input` names a LANDING directory watched as a parquet file stream
    * (each arriving file is a document batch; the ingest contract requires
    * batches to land in ascending doc_id order), `--out` receives the
    * republished curated snapshot after every micro-batch; the remaining
    * flags are [[CorpusJob.parse]]'s. State tables are derived from the
    * output path ([[namesFor]]).
    */
  def main(args: Array[String]): Unit = {
    val cfg = CorpusJob.parse(args)
    val b0 = SparkSession.builder().appName("graft-corpus-stream")
    val b = sys.env.get("SPARK_GRAFT_MASTER").fold(b0)(b0.master)
    val spark = graft.Sessions.withGraftConf(b).getOrCreate()
    val source = spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .parquet(cfg.input)
    val n = namesFor(cfg.out)
    // durable checkpoint next to the output: a restarted submit resumes
    // from the last committed offset instead of re-delivering the corpus
    run(source, cfg, n,
        checkpointDir = Some(cfg.out.stripSuffix("/") + "__checkpoint"))
      .awaitTermination()
  }
}
