package graft

import graft.operators.{Compaction, Layout}
import graft.queries.MiscQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental materialized-view contract: per-key aggregate
  * partials written with [[Layout.writeBucketed]], each epoch's batch
  * partials added with [[Layout.appendBucketed]], reads folding them with
  * the view's groupBy. Epoch merges are indistinguishable from a
  * from-scratch rebuild, compaction ([[Compaction.compactBucketed]] with a
  * fold) preserves the view, and the read-side fold really is
  * exchange-free on the bucket key — the three claims that make "append
  * partials, never rescan the fact table" sound at 100 TB.
  */
class AggStateSpec extends SparkSpec {
  import spark.implicits._

  private val Buckets = 4

  private def orders = Tables.orders(spark, sf())

  private def fold(df: DataFrame): DataFrame =
    df.groupBy("o_custkey")
      .agg(sum("n_part").as("n_orders"), sum("cents_part").as("sum_cents"))

  private def name(prefix: String): String =
    Layout.stateName(s"${prefix}_parts", sf())

  private def folded(n: String): Seq[(Long, Long, Long)] =
    fold(spark.table(n))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq

  test("merge(state, batch) ≡ write(corpus ∪ batch) on the folded view") {
    val nm = name("aggspec_m1")
    val nf = name("aggspec_f1")
    Layout.writeBucketed(MiscQueries.orderPartials(
      orders.filter(pmod($"o_orderkey", lit(5L)) =!= 0L)), "o_custkey", nm, Buckets)
    Layout.appendBucketed(MiscQueries.orderPartials(
      orders.filter(pmod($"o_orderkey", lit(5L)) === 0L)), "o_custkey", nm, Buckets)
    Layout.writeBucketed(MiscQueries.orderPartials(orders), "o_custkey", nf, Buckets)
    assert(folded(nm) === folded(nf))
  }

  test("two consecutive epoch merges ≡ one rebuild (a merged state is a valid base)") {
    val nm = name("aggspec_m2")
    val nf = name("aggspec_f2")
    Layout.writeBucketed(MiscQueries.orderPartials(
      orders.filter(pmod($"o_orderkey", lit(5L)).isin(0L, 1L, 2L))), "o_custkey", nm, Buckets)
    Layout.appendBucketed(MiscQueries.orderPartials(
      orders.filter(pmod($"o_orderkey", lit(5L)) === 3L)), "o_custkey", nm, Buckets)
    Layout.appendBucketed(MiscQueries.orderPartials(
      orders.filter(pmod($"o_orderkey", lit(5L)) === 4L)), "o_custkey", nm, Buckets)
    Layout.writeBucketed(MiscQueries.orderPartials(orders), "o_custkey", nf, Buckets)
    assert(folded(nm) === folded(nf))
  }

  test("compact folds to one partial per key and preserves the view") {
    val n = name("aggspec_c")
    Layout.writeBucketed(MiscQueries.orderPartials(
      orders.filter(pmod($"o_orderkey", lit(5L)) =!= 0L)), "o_custkey", n, Buckets)
    Layout.appendBucketed(MiscQueries.orderPartials(
      orders.filter(pmod($"o_orderkey", lit(5L)) === 0L)), "o_custkey", n, Buckets)
    val before = folded(n)
    val rowsBefore = spark.table(n).count()
    Compaction.compactBucketed(spark, n, "o_custkey", Buckets, fold(_)
      .withColumnRenamed("n_orders", "n_part")
      .withColumnRenamed("sum_cents", "cents_part"))
    val after = spark.table(n)
    assert(after.count() === after.select("o_custkey").distinct().count())
    assert(after.count() < rowsBefore, "compaction should shrink the partial set")
    assert(folded(n) === before)
    // idempotent: a replayed (crashed) compaction leaves the same state
    Compaction.compactBucketed(spark, n, "o_custkey", Buckets, fold(_)
      .withColumnRenamed("n_orders", "n_part")
      .withColumnRenamed("sum_cents", "cents_part"))
    assert(folded(n) === before)
  }

  test("sketch binaries ride the state table as monoid partials (HLL)") {
    // compactBucketed's fold contract claims holistic aggregates decompose
    // onto the same tables when carried as mergeable sketch binaries —
    // tested: per-epoch HLL partials of distinct customers per order status,
    // appended like any monoid partial; the merged read's union estimate
    // must equal the one-shot sketch over all orders (HllSpec pins
    // union == one-shot register-exact, so estimates are bit-equal)
    val n = name("aggspec_hll")
    def partials(df: DataFrame) =
      df.groupBy("o_orderstatus")
        .agg(expr("hll_sketch(o_custkey)").as("sk"))
    Layout.writeBucketed(partials(orders.filter(pmod($"o_orderkey", lit(5L)) =!= 0L)),
      "o_orderstatus", n, Buckets)
    Layout.appendBucketed(partials(orders.filter(pmod($"o_orderkey", lit(5L)) === 0L)),
      "o_orderstatus", n, Buckets)
    val merged = spark.table(n)
      .groupBy("o_orderstatus")
      .agg(expr("hll_estimate(hll_union(sk))").as("est"))
      .as[(String, Long)].collect().toMap
    val oneShot = partials(orders)
      .select($"o_orderstatus", expr("hll_estimate(sk)").as("est"))
      .as[(String, Long)].collect().toMap
    assert(merged === oneShot)
  }

  test("read-side fold plans with no exchange (bucketed on the grouping key)") {
    val n = MiscQueries.orderAggState(spark, sf())
    val df = fold(spark.table(n))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"view fold should be exchange-free on the bucket key:\n$plan")
  }

  test("the served view matches a plain fact-table rollup in-engine") {
    val served = MiscQueries.aggIncremental(spark, sf())
      .as[(Long, Long, Long, Long)].collect().toSeq
    val plain = orders
      .select($"o_custkey",
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
      .select($"o_custkey", $"n_orders", $"sum_cents",
        expr("(sum_cents * 10000) div n_orders").as("avg_price_micro"))
      .orderBy("o_custkey")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(served === plain)
  }
}
