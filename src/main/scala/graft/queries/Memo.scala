package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import graft.pipeline.StageStore
import org.apache.spark.sql.SparkSession

/** The cross-query memo registry: every piece of corpus state a query
  * module reuses across the queries of one session (tokenized frames,
  * band tables, trained models, stored-state table names, …) is one
  * named [[Memo.Entry]], declared next to the code that builds it with
  * `Memo.entry[V]("name")` and looked up with `entry(s, d) { build }`.
  *
  *  - Key: `(session, dir, content fingerprint of dir)`. The fingerprint
  *    is [[StageStore.contentFingerprint]] (the listing's paths, lengths
  *    and mtimes), so rewriting the tables at the same `dir` rebuilds the
  *    state instead of serving a stale frame.
  *  - One hit or miss per lookup, decided inside `computeIfAbsent`, so
  *    concurrent callers of a missing key count exactly one miss.
  *  - Eviction: past 3 keys, a lookup drops every OTHER key of that entry
  *    and unpersists the checkpointed frames it held (dropping the
  *    reference alone leaves the blocks pinned until the ContextCleaner's
  *    next GC). Eviction assumes queries run one at a time: a frame evicted
  *    mid-job by a concurrent caller loses its blocks.
  *  - Each entry owns its map: builds nest (`shingleFrame` looks up
  *    `tokFrame`), and `computeIfAbsent` re-entered on the same map throws
  *    `IllegalStateException: Recursive update`.
  *
  * Which entries are consulted at all is the query modules' choice: the
  * bench-only [[share]] switch routes the recompute-per-query paths
  * through their entries, while stored-state entries (catalog tables a
  * query writes once) are looked up on both paths.
  */
object Memo {

  /** The one read of `spark.graft.dedup.sharePairs`: Bench, Profile and
    * VerifyShared set it; Verify leaves it off, so the correctness gate
    * recomputes every shared frame per query.
    */
  def share(s: SparkSession): Boolean =
    s.conf.get("spark.graft.dedup.sharePairs", "false").toBoolean

  private val registry = new ConcurrentHashMap[String, Entry[_]]()

  /** Declare the entry `name`; a name may be declared once per JVM. */
  def entry[V](name: String): Entry[V] = {
    val e = new Entry[V](name)
    require(registry.putIfAbsent(name, e) == null, s"memo entry '$name' is declared twice")
    e
  }

  final class Entry[V] private[Memo] (val name: String) {
    private val cache = new ConcurrentHashMap[(SparkSession, String, String), V]()
    private val hitCount = new AtomicLong
    private val missCount = new AtomicLong

    def hits: Long = hitCount.get
    def misses: Long = missCount.get

    def apply(s: SparkSession, d: String)(make: => V): V = {
      val key = (s, d, StageStore.contentFingerprint(s, d))
      if (cache.size > 3) {
        val it = cache.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { unpersistDeep(e.getValue); it.remove() }
        }
      }
      var missed = false
      val v = cache.computeIfAbsent(key, _ => { missed = true; make })
      (if (missed) missCount else hitCount).incrementAndGet()
      v
    }
  }

  /** `hits/misses` summed over `entries`: one token of a `*MemoStats`
    * accessor (the bench's `pairs_memo` field).
    */
  def stats(entries: Entry[_]*): String =
    s"${entries.map(_.hits).sum}/${entries.map(_.misses).sum}"

  /** Unpersist every checkpointed frame inside an evicted value (frames
    * ride alone or in tuples). A `localCheckpoint(true)` plan is a
    * `LogicalRDD` over the persisted RDD — unpersist THAT rdd; `df.rdd`
    * would wrap it in a fresh deserializing RDD whose unpersist frees
    * nothing.
    */
  private def unpersistDeep(v: Any): Unit = v match {
    case df: org.apache.spark.sql.Dataset[_] =>
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking = false))
    case it: Iterable[_] => it.foreach(unpersistDeep) // before Product: a
      // List's cons cells are Products — iterating avoids spine recursion
    case p: Product => p.productIterator.foreach(unpersistDeep)
    case _ => ()
  }
}
