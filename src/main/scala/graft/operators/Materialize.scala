package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The lineage-truncation primitive for ITERATIVE operators (the CC
  * star-contraction loop, the PageRank supersteps): each round must
  * materialize its frame so round k never re-executes rounds 1..k−1 — but
  * HOW it materializes is a deployment-posture choice.
  *
  *  - **Default (`spark.graft.checkpoint.dir` unset): eager
  *    `localCheckpoint`.** Blocks live in executor storage
  *    (MEMORY_AND_DISK, unreplicated) with lineage TRUNCATED — free on
  *    local[*] and the fastest option on a healthy cluster, but an
  *    executor loss mid-loop is fatal: the blocks are gone and there is no
  *    lineage to recompute them.
  *  - **Reliable mode (`spark.graft.checkpoint.dir=<fault-tolerant path>`):
  *    persist → reliable `checkpoint()` → unpersist.** Rounds are written
  *    to the shared filesystem (HDFS/object store); an executor loss costs
  *    a re-read, never the job. The persist-before-checkpoint is the
  *    standard recipe: a bare reliable checkpoint RE-RUNS the frame's plan
  *    in the write job, doubling every round's compute — caching it makes
  *    the write a cache scan, and the unpersist keeps the loop's executor
  *    footprint one round deep.
  *
  * One switch for every iterative operator, read per call so a session can
  * turn it on for a long CC job and off for interactive work. Row-level
  * results are IDENTICAL either way (ReliableCheckpointSpec pins CC + rank
  * output equality and that round files land under the directory).
  *
  * Accumulator note: [[Dedup.checkpointCounting]] rides a counting
  * accumulator on the materialization job. Under reliable mode the write
  * job re-reads the CACHE, not the plan, so the probe UDF still fires
  * exactly once per row in the common path; a cache-evicted partition
  * recomputes and can over-count — safe here because every consumer tests
  * `count == 0`, and rows can only ADD increments (same argument as task
  * retries, documented there).
  */
object Materialize {

  /** Session conf key: when set (non-empty), iterative rounds checkpoint
    * reliably under this directory instead of `localCheckpoint`.
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
        // root changed, so all rounds of a job share one tree
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
