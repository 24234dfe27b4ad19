package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one eager-materialization primitive: every frame `src/main`
  * materializes with truncated lineage goes through [[frame]] (or
  * [[observed]], [[shared]]) — iterative rounds (the CC star
  * contraction, PageRank supersteps), memoized corpus state, multi-reader
  * intermediates and pipeline stage outputs alike. HOW it materializes is
  * the session's one durability posture, [[DirKey]]:
  *
  *  - **Default (unset): eager `localCheckpoint`.** Blocks live in
  *    executor storage (MEMORY_AND_DISK, unreplicated) with lineage
  *    TRUNCATED — one job, no file write; free on local[*] and the fastest
  *    option on a healthy cluster, but an executor loss is fatal to every
  *    frame it held: the blocks are gone and there is no lineage to
  *    recompute them.
  *  - **Reliable (`spark.graft.checkpoint.dir=<fault-tolerant path>`):
  *    persist → reliable `checkpoint()` → unpersist.** Frames are written
  *    to the shared filesystem (HDFS/object store); an executor loss costs
  *    a re-read, never the job. Cost: a second job per frame (the write)
  *    and its bytes on the filesystem, which outlive the frame — Spark
  *    removes reliable checkpoint files only under
  *    `spark.cleaner.referenceTracking.cleanCheckpoints`. The
  *    persist-before-checkpoint is the standard recipe: a bare reliable
  *    checkpoint RE-RUNS the frame's plan in the write job — caching it
  *    makes the write a cache scan, and the unpersist keeps the executor
  *    footprint one frame deep.
  *
  * Read per call, so a session can turn it on for a long CC job and off
  * for interactive work; the memo ([[graft.queries.Memo]]) keys every
  * entry on it. Row-level results are IDENTICAL either way
  * (ReliableCheckpointSpec pins CC + rank output equality and that frames
  * land under the directory).
  */
object Materialize {

  /** Session conf key: when set (non-empty), frames checkpoint reliably
    * under this directory instead of `localCheckpoint`.
    */
  val DirKey = "spark.graft.checkpoint.dir"

  /** The session's checkpoint posture: the reliable root when [[DirKey]]
    * is set (non-empty), `None` for `localCheckpoint`.
    */
  def checkpointDir(s: SparkSession): Option[String] =
    s.conf.getOption(DirKey).filter(_.nonEmpty)

  /** Materialize `df` eagerly with truncated lineage, honoring [[DirKey]].
    */
  def frame(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    checkpointDir(s) match {
      case Some(dir) =>
        // setCheckpointDir is sticky per SparkContext (it appends a
        // per-context UUID subdir); only (re)set it when the configured
        // root changed, so all frames of a job share one tree
        val cur = lastDir.get()
        if (cur != dir) {
          s.sparkContext.setCheckpointDir(dir)
          lastDir.set(dir)
        }
        val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        val ck = cached.checkpoint(eager = true)
        cached.unpersist(blocking = false)
        ck
      case None => df.localCheckpoint(eager = true)
    }
  }

  /** [[frame]] with the named aggregates `aggs` (a row count, min/max,
    * `count_if(flag)`, ...) observed on the materialization's own job:
    * the value a caller would otherwise take with a second action over
    * the frame comes back with it. Under the reliable posture the
    * observation sits below the persisted plan, so it fires once, on the
    * job that fills the cache. Returns (frame, aggregate name → value;
    * null over an empty frame where the aggregate is).
    */
  def observed(df: DataFrame, aggs: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val ck = frame(df.observe(obs, aggs.head, aggs.tail: _*))
    (ck, obs.get)
  }

  private val lastDir = new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Hash-spread `df` on `key` to the session's core count — ONLY when its
    * physical plan would otherwise run in fewer partitions (guide §2.5
    * "input skew: one huge unsplittable file → repartition immediately
    * after the read"). At bench scale a small parquet table arrives as a
    * single split and every narrow-but-compute-dense map downstream
    * (tokenize + per-window md5, vector arithmetic) runs in ONE task on an
    * idle 32-core session; at production scale the scan already carries
    * more partitions than cores and this is the identity — nothing is
    * shuffled. The partition probe reads the planned RDD's partition
    * count (no job). Deterministic hash partitioning on a real key, never
    * round-robin (task retries must reproduce the assignment).
    */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p, key)
  }

  /** Materialize a SHARED frame (memoized corpus state, multi-consumer
    * candidate sets) hash-distributed on `key` across half the session's
    * core count before checkpointing.
    *
    * Why (r12, guide §2.5/§6): AQE coalesces shuffle partitions by BYTES,
    * and several graft frames are compute-dense on tiny bytes — token
    * arrays feeding band joins, bitmask maps feeding popcount verifies —
    * so at bench scale the final stage of a memo build lands in 1-2
    * partitions and EVERY downstream consumer inherits 2-way parallelism
    * on a 32-core session (measured: an 11.6 s 2-task verify stage inside
    * dedup_incremental at sf0.1). A checkpointed frame's partitioning is
    * frozen (no exchange below it for AQE to re-split), so balance is
    * established once, at build time, with one hash exchange on the frame's
    * natural key — the same layout a production deployment gets from
    * bucketing its stored state tables on that key. Row content identical;
    * only the physical distribution changes.
    *
    * Partition count: max(2, cores/2). Each partition of a checkpointed
    * frame costs every consumer stage one task (~5-10 ms apiece on the
    * bench box), so a CHEAP consumer pays ~p×task-overhead per read while
    * a compute-dense consumer gains p-way parallelism; cores/2 was the
    * measured sweet spot on a mixed cheap/heavy consumer set (A/B at
    * p∈{8,16,32} on 14 queries: 25.6 / 23.1 / 25.4 s).
    */
  def shared(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    frame(df.repartition(
      math.max(2, df.sparkSession.sparkContext.defaultParallelism / 2), key))
}
