package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import graft.operators.Materialize
import graft.pipeline.StageStore
import org.apache.spark.sql.SparkSession

/** The cross-query memo registry: every piece of corpus state a query
  * module reuses across the queries of one session (resolved input
  * tables in [[graft.Tables]], tokenized frames, band tables, trained
  * models, stored-state table names, …) is one named [[Memo.Entry]],
  * declared next to the code that builds it with `Memo.entry[V]("name")`
  * and looked up with `entry(s, d) { build }`.
  *
  *  - Key: `(session, dir, content fingerprint of dir, checkpoint
  *    posture)`. The fingerprint is [[StageStore.contentFingerprint]] (the
  *    listing's paths, lengths and mtimes), so rewriting the tables at the
  *    same `dir` rebuilds the state instead of serving a stale frame. The
  *    posture is [[Materialize.checkpointDir]]: a frame materialized under
  *    `localCheckpoint` is never served to a session that has since asked
  *    for reliable checkpoints, and vice versa.
  *  - One hit or miss per lookup, decided inside `computeIfAbsent`, so
  *    concurrent callers of a missing key count exactly one miss.
  *  - Eviction: past 3 keys, a lookup drops every OTHER key of that entry
  *    and unpersists the checkpointed frames it held (dropping the
  *    reference alone leaves the blocks pinned until the ContextCleaner's
  *    next GC). Eviction assumes one query at a time per session: a frame
  *    evicted mid-job by a concurrent caller loses its blocks.
  *  - Each entry owns its map: builds nest (`shingleFrame` looks up
  *    `tokFrame`), and `computeIfAbsent` re-entered on the same map throws
  *    `IllegalStateException: Recursive update`.
  *
  * Every caller (Verify, Bench, the `Graft` facade) runs the same
  * memoized path; there is no recompute-per-query switch.
  */
object Memo {

  private val registry = new ConcurrentHashMap[String, Entry[_]]()

  /** Declare the entry `name`; a name may be declared once per JVM. */
  def entry[V](name: String): Entry[V] = {
    val e = new Entry[V](name)
    require(registry.putIfAbsent(name, e) == null, s"memo entry '$name' is declared twice")
    e
  }

  final class Entry[V] private[Memo] (val name: String) {
    private val cache =
      new ConcurrentHashMap[(SparkSession, String, String, Option[String]), V]()
    private val hitCount = new AtomicLong
    private val missCount = new AtomicLong

    def hits: Long = hitCount.get
    def misses: Long = missCount.get

    def apply(s: SparkSession, d: String)(make: => V): V = {
      val key = (s, d, StageStore.contentFingerprint(s, d), Materialize.checkpointDir(s))
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

  /** Misses summed over every declared entry. */
  private[graft] def totalMisses: Long = {
    import scala.jdk.CollectionConverters._
    registry.values.asScala.map(_.misses).sum
  }

  /** `hits/misses` summed over `entries`: one token of a `*MemoStats`
    * accessor (the bench's `pairs_memo` field).
    */
  def stats(entries: Entry[_]*): String =
    s"${entries.map(_.hits).sum}/${entries.map(_.misses).sum}"

  /** Unpersist every checkpointed frame inside an evicted value (frames
    * ride alone or in tuples). A [[Materialize.frame]] plan is a
    * `LogicalRDD` over the checkpointed RDD — unpersist THAT rdd; `df.rdd`
    * would wrap it in a fresh deserializing RDD whose unpersist frees
    * nothing. That frees a local checkpoint's blocks; a reliable
    * checkpoint's files stay under the checkpoint dir.
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
