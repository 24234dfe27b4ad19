package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The one install path: `withExtensions(new GraftExtensions)` alone
  * must provide the whole graft surface — optimizer rule + every custom
  * function the `graft.functions` accessors call.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("withExtensions installs optimizer rule and all custom functions") {
    val base = spark // force the shared session (and its SparkContext) up
    try {
      // inside the try so a failed build still restores the shared session
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s2 = SparkSession.builder()
        .master("local[4]")
        .appName("graft-ext-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne base) // a genuinely new session, same SparkContext
      // every name a graft.functions accessor passes to call_function
      val names = Seq("cosine_sim", "sq_dist", "bitset_intersect",
        "graft_in_set", "winnow_spans", "cdc_chunks", "hilbert_index",
        "topk_min", "hll_sketch", "hll_union", "hll_estimate", "cms_sketch",
        "cms_merge", "cms_query", "bloom_agg", "bloom_merge",
        "bloom_contains", "kmv_sketch", "kmv_union", "kmv_estimate",
        "kmv_union_est", "kmv_inter_est", "kmv_jaccard_micro")
      assert(names.filterNot(s2.catalog.functionExists) === Nil)
      // every custom function resolves in plain SQL
      val row = s2.sql(
        """SELECT
          |  cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs,
          |  bitset_intersect(map(0L, 3L), map(0L, 1L)) AS bi,
          |  hll_estimate(hll_sketch(x)) AS est,
          |  cms_query(cms_sketch(x, 5, 64), 2L) AS freq
          |FROM VALUES (1L), (2L), (2L) AS t(x)""".stripMargin).head()
      assert(row.getDouble(0) === 1.0)
      assert(row.getLong(1) === 1L)
      assert(row.getLong(2) === 2L)
      assert(row.getLong(3) === 2L)
      // cms_merge resolves too (separate query: aggregates can't nest)
      val merged = s2.sql(
        """SELECT cms_query(cms_merge(sk, 5, 64), 2L) AS freq FROM (
          |  SELECT cms_sketch(x, 5, 64) AS sk
          |  FROM VALUES (1L), (2L), (2L) AS t(x) GROUP BY x % 2)""".stripMargin).head()
      assert(merged.getLong(0) === 2L)
      // the bloom family resolves: agg + merge + contains, no register()
      val bloomed = s2.sql(
        """SELECT bloom_contains(bloom_merge(f, 65536, 7), 2L) AS hit,
          |       bloom_contains(bloom_merge(f, 65536, 7), 999L) AS miss
          |FROM (SELECT bloom_agg(x, 65536, 7) AS f
          |      FROM VALUES (1L), (2L), (2L) AS t(x) GROUP BY x % 2)""".stripMargin).head()
      assert(bloomed.getBoolean(0) === true)
      assert(bloomed.getBoolean(1) === false)
      // the KMV family and the Hilbert index resolve too
      val kmvEst = s2.sql("""SELECT kmv_estimate(kmv_sketch(x, 8), 8)
          |FROM VALUES (1L), (2L), (2L) AS t(x)""".stripMargin).head()
      assert(kmvEst.getLong(0) === 2L)
      val hilbert = s2.sql("SELECT hilbert_index(5L, 9L, 16)").head()
      assert(hilbert.getLong(0) === graft.functions.HilbertOps.hilbert(5L, 9L, 16))
      // the optimizer rule is active at build time: a constant-false unpivot
      // branch is pruned from Expand
      import s2.implicits._
      val df = Seq((1L, 10.0, 20.0)).toDF("id", "a", "b")
        .unpivot(Array(col("id")), Array(col("a"), col("b")), "m", "v")
        .filter(col("m") === "a")
      assert(df.count() === 1)
      val expandLine = df.queryExecution.optimizedPlan.treeString
        .linesIterator.find(_.contains("Expand"))
      // the Expand node must exist (else this pin checks nothing) and the
      // pruned branch's column must be gone from its projections
      assert(expandLine.isDefined, df.queryExecution.optimizedPlan.treeString)
      assert(!expandLine.get.contains("b#"), expandLine.get)
      // a session built without the extension fails at analysis, naming
      // the function
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val bare = SparkSession.builder().master("local[4]").getOrCreate()
      assert((bare ne base) && (bare ne s2))
      val err = intercept[org.apache.spark.sql.AnalysisException](
        bare.range(1).select(graft.functions.Kmv.sketch(col("id"))).collect())
      assert(err.getCondition === "UNRESOLVED_ROUTINE", err.getMessage)
      assert(err.getMessage.contains("kmv_sketch"), err.getMessage)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
      // stop no session built here: they share the one SparkContext
    }
  }
}
