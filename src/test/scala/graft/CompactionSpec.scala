package graft

import graft.operators.{Compaction, Dedup, DedupState, Layout}
import graft.queries.DedupQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The standing-state compaction contract: after E epochs of bucket-aligned
  * appends a bucket holds E files; `Compaction.compactBucketed` must fold
  * it back to one file per bucket WITHOUT changing a single row, without
  * breaking the exchange-free probe plan the bucket spec buys, and without
  * any crash window in which the state is lost — the protocol is a staged
  * two-rename swap, and this spec kills it after every step prefix the way
  * CorpusStreamCrashSpec kills the stream's epoch writes.
  */
class CompactionSpec extends SparkSpec {

  private val dir = sf()
  private def docs = Tables.documents(spark, dir)

  /** The reference count `Compaction.fileCount`'s listing must equal:
    * distinct files a scan of the table actually reads.
    */
  private def scannedFiles(t: String): Long =
    spark.table(t).select(input_file_name()).distinct().count()

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what changed across compaction")

  test("dedup state compaction: files shrink, rows identical, probe identical") {
    val split = docs.agg(max("doc_id")).head().getLong(0) * 3 / 5
    val n = DedupState.names("graft_compactspec", dir)
    val buckets = 4
    DedupQueries.buildFullState(spark, docs.filter(col("doc_id") < split), n, buckets)
    DedupQueries.mergeEpoch(spark,
      docs.filter(col("doc_id") >= split && col("doc_id") < split + 200), n, buckets)
    DedupQueries.mergeEpoch(spark, docs.filter(col("doc_id") >= split + 200), n, buckets)

    val before = Seq(n.bands, n.toks, n.spans, n.comps)
      .map(t => t -> spark.table(t).localCheckpoint(true)).toMap
    val probeBefore = DedupQueries.stateVerifiedEdges(spark, n).localCheckpoint(true)
    val bandFilesBefore = Compaction.fileCount(spark, n.bands)
    assert(bandFilesBefore === scannedFiles(n.bands),
      "the listing disagrees with a scan on the appended table")
    assert(bandFilesBefore > buckets,
      s"fixture must accumulate >$buckets band files to exercise compaction " +
        s"(got $bandFilesBefore)")

    val stats = DedupState.compact(spark, "doc_id", n, buckets)
    assert(stats.size === 4, s"all four tables should compact: $stats")
    stats.foreach { st =>
      assert(st.filesAfter <= buckets,
        s"${st.table}: ${st.filesAfter} files after compaction (buckets=$buckets)")
      assert(st.rowsAfter === st.rowsBefore,
        s"${st.table}: row count changed ${st.rowsBefore} -> ${st.rowsAfter}")
    }
    assert(stats.find(_.table == n.bands).get.filesAfter < bandFilesBefore)
    assert(Compaction.fileCount(spark, n.bands) === scannedFiles(n.bands),
      "the listing disagrees with a scan on the compacted table")

    before.foreach { case (t, b) => sameRows(spark.table(t), b, t) }
    sameRows(DedupQueries.stateVerifiedEdges(spark, n), probeBefore,
      "verified-edge probe off the compacted state")

    // the bucket spec must survive the catalog renames: a groupBy on the
    // bucket key over the compacted table plans with NO exchange
    val plan = DedupState.bands(spark, n)
      .groupBy("band_key").count().queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"), plan)

    // leftovers: no stage/retired side tables remain
    assert(!spark.catalog.tableExists(s"${n.bands}__cstage"))
    assert(!spark.catalog.tableExists(s"${n.bands}__cretired"))
  }

  test("kill-at-every-step: recovery converges, state never lost") {
    import spark.implicits._
    val key = "k"
    val buckets = 4
    val base = (0L until 400L).map(i => (i % 37, i)).toDF(key, "v")
    val extra = (400L until 600L).map(i => (i % 37, i)).toDF(key, "v")
    val want = base.unionByName(extra).localCheckpoint(true)

    for (maxSteps <- 0 to 4) {
      val t = s"graft_compact_crash_$maxSteps"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}__cstage")
      spark.sql(s"DROP TABLE IF EXISTS ${t}__cretired")
      Layout.writeBucketed(base, key, t, buckets)
      Layout.appendBucketed(extra, key, t, buckets)

      Compaction.compactUpTo(spark, t, key, buckets, identity, maxSteps)

      // invariant at EVERY kill point: the full row set is reachable —
      // either under the live name, or (in the between-renames window)
      // recovery promotes the verified stage
      if (!spark.catalog.tableExists(t)) {
        assert(spark.catalog.tableExists(s"${t}__cretired"),
          s"step $maxSteps: live name vacant without a retired marker")
        Compaction.recover(spark, t)
        assert(spark.catalog.tableExists(t),
          s"step $maxSteps: recover did not restore the live name")
      }
      // a re-run from any crash point completes and lands on the same rows
      val st = Compaction.compactBucketed(spark, t, key, buckets)
      assert(st.filesAfter <= buckets && st.rowsAfter === 600L,
        s"step $maxSteps: $st")
      sameRows(spark.table(t), want, s"table after crash at step $maxSteps")
      assert(!spark.catalog.tableExists(s"${t}__cstage"))
      assert(!spark.catalog.tableExists(s"${t}__cretired"))
    }
  }

  test("pre-commit crash leaves the live table untouched and readable") {
    import spark.implicits._
    val t = "graft_compact_precommit"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}__cstage")
    val df = (0L until 100L).map(i => (i % 7, i)).toDF("k", "v")
    Layout.writeBucketed(df, "k", t, 2)
    // kill after staging (step 1) and after validation (step 2): both are
    // before the commit rename, so the live table must be bit-identical
    for (maxSteps <- 1 to 2) {
      Compaction.compactUpTo(spark, t, "k", 2, identity, maxSteps)
      assert(spark.catalog.tableExists(t))
      assert(spark.table(t).count() === 100L)
    }
    // recover sweeps the orphan stage
    Compaction.recover(spark, t)
    assert(!spark.catalog.tableExists(s"${t}__cstage"))
  }

  test("mm band state compacts with an identical stored probe") {
    // the media sibling of the dedup-state test: materialize the shared
    // session state through the query itself, compact the band table
    // (content-preserving, so co-resident suites are unaffected), and
    // pin that the stored probe is row-identical off fewer files
    val q = graft.queries.MultimodalQueries.defs("mm_phash_stored")
    val before = q(spark, dir).collect().map(_.toSeq).toSeq
    val tbl = DedupState.names("graft_mm", dir).bands
    val st = Compaction.compactBucketed(spark, tbl, "band_key", 4)
    assert(st.rowsAfter === st.rowsBefore, s"$st")
    assert(st.filesAfter <= 4 && st.filesAfter <= st.filesBefore, s"$st")
    assert(q(spark, dir).collect().map(_.toSeq).toSeq === before,
      "stored media probe changed across band-state compaction")
  }

  test("graph edge partials compact with an identical stored rank") {
    val q = graft.queries.GraphQueries.defs("graph_domain_rank_stored")
    val before = q(spark, dir).collect().map(_.toSeq).toSeq
    val tbl = Layout.stateName("graft_graphedges_parts", dir)
    // identity fold: the per-epoch partial rows are themselves pinned by
    // other suites, so only the file layout is folded here (the monoid
    // fold path is exercised by the aggregate-partials test below)
    val st = Compaction.compactBucketed(spark, tbl, "src", 4)
    assert(st.rowsAfter === st.rowsBefore, s"$st")
    assert(st.filesAfter <= 4 && st.filesAfter <= st.filesBefore, s"$st")
    assert(q(spark, dir).collect().map(_.toSeq).toSeq === before,
      "stored rank changed across edge-state compaction")
  }

  test("AggState.compact rides the crash-safe swap and stays idempotent") {
    import spark.implicits._
    val n = "graft_compact_aggstate"
    spark.sql(s"DROP TABLE IF EXISTS $n")
    val fold: DataFrame => DataFrame =
      _.groupBy("k").agg(sum("cnt").as("cnt"))
    val p1 = Seq((1L, 5L), (2L, 3L)).toDF("k", "cnt")
    val p2 = Seq((1L, 2L), (3L, 9L)).toDF("k", "cnt")
    Layout.writeBucketed(p1, "k", n, 2)
    Layout.appendBucketed(p2, "k", n, 2)
    val st = Compaction.compactBucketed(spark, n, "k", 2, fold)
    assert(st.rowsBefore === 4L && st.rowsAfter === 3L)
    val got = spark.table(n).as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 7L), (2L, 3L), (3L, 9L)))
    // idempotent: replaying the (crashed) compaction changes nothing
    Compaction.compactBucketed(spark, n, "k", 2, fold)
    val again = spark.table(n).as[(Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq === Seq((1L, 7L), (2L, 3L), (3L, 9L)))
  }
}
