package graft.queries

import graft.Tables
import graft.functions.CentroidAgg
import graft.operators.{AsOfJoin, Layout, Materialize, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Coverage extensions beyond §2c's core list: pivot (unpivot's inverse),
  * cube grouping sets, as-of join (union + running window — the scalable
  * form), and a typed Aggregator UDAF (vector centroid).
  */
object MiscQueries {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: per-user event-type value sums as columns (O4's inverse). */
  def pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(round(sum("value"), 2))
      .orderBy("user_id")

  /** Cube over (o_orderstatus, o_orderpriority) with grouping id. */
  def cube(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("cube_orders")
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS prio,
        |       count(1) AS n,
        |       CAST(grouping_id() AS BIGINT) AS gid,
        |       round(sum(o_totalprice), 2) AS total
        |FROM cube_orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, prio, gid, n, total""".stripMargin)
  }

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * includes the (c_mktsegment)-only set that ROLLUP can't express.
    */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("gs_customer")
    Tables.nation(s, d).createOrReplaceTempView("gs_nation")
    s.sql(
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |       coalesce(c_mktsegment, 'ALL') AS segment,
        |       count(1) AS n,
        |       CAST(grouping_id() AS BIGINT) AS gid
        |FROM gs_customer JOIN gs_nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), (c_mktsegment), ())
        |ORDER BY nation, segment, gid""".stripMargin)
  }

  /** Map functions: construct, extract (present + absent key — ANSI-safe
    * via try_element_at), cardinality, sorted key list.
    */
  def mapFns(s: SparkSession, d: String): DataFrame = {
    val m = map(lit("name"), col("n_name"),
                lit("region"), col("n_regionkey").cast("string"))
    Tables.nation(s, d).select(
      col("n_nationkey"),
      try_element_at(m, lit("name")).as("name_v"),
      try_element_at(m, lit("nope")).as("missing_v"),
      size(m).cast("long").as("m_size"),
      array_join(array_sort(map_keys(m)), ",").as("keys_csv"))
      .orderBy("n_nationkey")
  }

  /** TPC-H Q1 shape: single-scan multi-aggregate pricing summary — the
    * canonical "wide agg over one big fact scan" plan (partial+final hash
    * aggregate, no joins, whole-stage codegen end to end).
    */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_linenumber") <= 6)
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2)
          .as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** As-of join: for each 'error' event, the value of the user's most
    * recent 'view' event at or before it (null if none).
    */
  def asofLastView(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "ts", "value")
    AsOfJoin.lastValue(errors, views, "user_id", "ts", "value")
      .select("event_id", "user_id", "asof_value")
      .orderBy("event_id")
  }

  /** Forward as-of join: for each 'error' event, the value of the user's
    * NEXT 'view' event at or after it (null if none) — merge_asof
    * direction='forward'.
    */
  def asofNextView(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "ts", "value")
    AsOfJoin.nextValue(errors, views, "user_id", "ts", "value")
      .select("event_id", "user_id", "asof_value")
      .orderBy("event_id")
  }

  /** Tolerance as-of join (merge_asof tolerance=10min): the last view
    * strictly within 10 minutes before each error, else NULL — a stale
    * reference row is worse than none for attribution-style joins.
    */
  def asofToleranceView(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "ts", "value")
    AsOfJoin.lastValueWithin(errors, views, "user_id", "ts", "value", toleranceSec = 600L)
      .select("event_id", "user_id", "asof_value")
      .orderBy("event_id")
  }

  /** Typed-Aggregator centroid per embedding label (first 4 dims shown). */
  def centroid(s: SparkSession, d: String): DataFrame = {
    val centroidUdaf = udaf(new CentroidAgg(64))
    Similarity.prepared(Tables.embeddings(s, d))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), centroidUdaf(col("v")).as("c"))
      .select(col("label"), col("n"),
              round(element_at(col("c"), 1), 4).as("c0"),
              round(element_at(col("c"), 2), 4).as("c1"),
              round(element_at(col("c"), 3), 4).as("c2"),
              round(element_at(col("c"), 4), 4).as("c3"))
      .orderBy("label")
  }

  /** Dataset profiling: per-column null count, distinct count, min and max
    * over `orders` — the first query anyone runs on an unknown table. One
    * UNION branch per column, each scanning ONLY its column (pruning
    * reaches the parquet reader) with a standard two-phase distinct
    * aggregate; all branches plan into one job. The alternative — a single
    * wide agg with 6 countDistincts — lowers to a 7-way Expand that
    * re-materializes every row per distinct column: measured 3.7s vs 0.4s
    * at sf0.1. Min/max format through fixed-point decimals so every engine
    * prints them identically.
    */
  def profileOrders(s: SparkSession, d: String): DataFrame = {
    def intS(c: String) = (min(col(c)).cast("string"), max(col(c)).cast("string"))
    def dblS(c: String) = (min(col(c)).cast("decimal(18,2)").cast("string"),
                           max(col(c)).cast("decimal(18,2)").cast("string"))
    def strS(c: String) = (min(col(c)), max(col(c)))
    val cols = Seq(
      "o_orderkey" -> intS("o_orderkey"),
      "o_custkey" -> intS("o_custkey"),
      "o_orderstatus" -> strS("o_orderstatus"),
      "o_totalprice" -> dblS("o_totalprice"),
      "o_orderdate" -> (min(col("o_orderdate")).cast("string"),
                        max(col("o_orderdate")).cast("string")),
      "o_orderpriority" -> strS("o_orderpriority"))
    val orders = Tables.orders(s, d)
    cols.map { case (c, (mn, mx)) =>
      orders.select(col(c)).agg(
          count(lit(1)).as("n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          mn.as("min_s"), mx.as("max_s"))
        .select(lit(c).as("column_name"), col("n"), col("n_nulls"),
                col("n_distinct"), col("min_s"), col("max_s"))
    }.reduce(_ unionByName _).orderBy("column_name")
  }

  /** Join-key skew diagnostic — the question to answer BEFORE shuffling
    * 100 TB on a key: per-key group-size distribution (count, max, mean,
    * exact p50/p99) and the max/mean skew ratio, for the two natural join
    * keys in the fixture. One map-side-combined groupBy per relation; the
    * stats then aggregate the key-sizes relation, which is distinct-keys
    * sized, not corpus sized. A skew_ratio near 1 means hash partitions
    * balance; a large one says use `Skew.saltedJoin` / AQE skew handling
    * on that key.
    */
  def skewProfile(s: SparkSession, d: String): DataFrame = {
    def keyStats(df: DataFrame, key: String, tag: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum("n").as("n_rows"),
          max("n").as("max_n"),
          round(avg("n"), 4).as("avg_n"),
          round(expr("percentile(n, 0.5)"), 4).as("p50"),
          round(expr("percentile(n, 0.99)"), 4).as("p99"),
          round(max("n").cast("double") / avg("n"), 4).as("skew_ratio"))
        .select((lit(tag).as("key_col") +: Seq("n_keys", "n_rows", "max_n",
          "avg_n", "p50", "p99", "skew_ratio").map(col)): _*)
    keyStats(Tables.lineitem(s, d), "l_orderkey", "lineitem.l_orderkey")
      .unionByName(keyStats(Tables.events(s, d), "user_id", "events.user_id"))
      .orderBy("key_col")
  }

  /** Z-order curve audit: Morton values of `(o_custkey mod 4096,
    * o_orderkey mod 4096)` summarized into 64 coarse curve cells
    * (top 6 of 24 bits). Exercises [[Layout.zvalue]]'s bit-interleave over
    * every row with the identical shift/and/or arithmetic stated in the
    * oracle — the layout writer's correctness reduces to this expression
    * plus stock repartitionByRange (layout QUALITY is engine-tested in
    * LayoutSpec, where per-file min/max boxes are compared against a
    * linear sort).
    */
  def layoutZvalue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(Layout.zvalue(
        pmod(col("o_custkey"), lit(4096)).cast("long"),
        pmod(col("o_orderkey"), lit(4096)).cast("long")).as("z"))
      .groupBy(shiftright(col("z"), 18).cast("long").as("cell"))
      .agg(count(lit(1)).as("n"),
           min("z").cast("long").as("min_z"),
           max("z").cast("long").as("max_z"))
      .orderBy("cell")

  /** 3-dim Morton layout audit — [[layoutZvalue]] extended to the N-dim
    * interleave (`Layout.zvalue(Seq(...))`): custkey x orderkey x
    * floor(totalprice), 12 bits each, 36-bit z-values, cell = top 6 bits.
    * floor() before the integer cast keeps the two engines identical
    * (Spark CAST(double AS BIGINT) truncates, DuckDB rounds).
    */
  def layoutZvalue3(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(Layout.zvalue(Seq(
        pmod(col("o_custkey"), lit(4096)).cast("long"),
        pmod(col("o_orderkey"), lit(4096)).cast("long"),
        pmod(floor(col("o_totalprice")).cast("long"), lit(4096)))).as("z"))
      .groupBy(shiftright(col("z"), 30).cast("long").as("cell"))
      .agg(count(lit(1)).as("n"),
           min("z").cast("long").as("min_z"),
           max("z").cast("long").as("max_z"))
      .orderBy("cell")

  /** Hilbert-curve layout audit — [[layoutZvalue]]'s grid walked by the
    * locality-preserving curve instead of the Morton interleave:
    * consecutive Hilbert indices are always grid-adjacent, so equal index
    * ranges (≈ files after `repartitionByRange`) get tighter bounding
    * boxes than z-order's power-of-two seam jumps — better file pruning
    * at the same file count. The index is ONE native codegen'd expression
    * ([[graft.functions.HilbertIndex]]); the oracle replays the identical
    * per-level rotate/reflect rounds as an unrolled subquery chain
    * generated from the same spec, pinning the arithmetic bit-for-bit.
    * Cell = top 6 bits ≡ 64 curve segments (the "file" grain audited).
    */
  def layoutHilbert(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .select(graft.functions.Hilbert.index(
        pmod(col("o_custkey"), lit(4096)).cast("long"),
        pmod(col("o_orderkey"), lit(4096)).cast("long")).as("h"))
      .groupBy(shiftright(col("h"), 18).cast("long").as("cell"))
      .agg(count(lit(1)).as("n"),
           min("h").cast("long").as("min_h"),
           max("h").cast("long").as("max_h"))
      .orderBy("cell")
  }

  /** Exact per-group value quantiles (p25/p50/p90/p99 of order totals by
    * status) — the column-distribution half of profiling, next to
    * [[profileOrders]]'s min/max/distinct and [[skewProfile]]'s key sizes.
    * Spark's `percentile` and DuckDB's `quantile_cont` share the type-7
    * definition (index p·(n−1), linear interpolation), so the oracle
    * reproduces every value. EXACT percentile buffers each group's values
    * (TypedImperativeAggregate) — right for bounded group counts like
    * this 3-status frame; at 100 TB with big groups, swap in
    * `approx_percentile` (t-digest, mergeable, no buffering) and keep the
    * same query shape — the sketch trade documented in SketchQueries.
    */
  def profileQuantiles(s: SparkSession, d: String): DataFrame =
    profileQuantilesShape(s, d,
      "percentile(o_totalprice, array(0.25D, 0.5D, 0.9D, 0.99D))")

  /** The mergeable-sketch twin of [[profileQuantiles]] — the swap SURVEY §8
    * tells a 100 TB deployment to make: `approx_percentile` (Spark's
    * Greenwald–Khanna summary) is bounded-memory and partial-merge
    * aggregable, where exact `percentile` buffers each group's value
    * multiset. IDENTICAL query shape by construction (both build on
    * [[profileQuantilesShape]]), so the swap is a one-expression change;
    * ApproxAggSpec pins the error envelope against the exact twin at the
    * bench scale instead of leaving the claim asserted.
    */
  def profileQuantilesApprox(s: SparkSession, d: String,
                             accuracy: Int = 10000): DataFrame =
    profileQuantilesShape(s, d,
      s"approx_percentile(o_totalprice, array(0.25D, 0.5D, 0.9D, 0.99D), $accuracy)")

  private def profileQuantilesShape(s: SparkSession, d: String,
                                    quantileExpr: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), expr(quantileExpr).as("q"))
      .select(col("o_orderstatus"), col("n"),
        round(element_at(col("q"), 1), 4).as("p25"),
        round(element_at(col("q"), 2), 4).as("p50"),
        round(element_at(col("q"), 3), 4).as("p90"),
        round(element_at(col("q"), 4), 4).as("p99"))
      .orderBy("o_orderstatus")

  /** Robust per-group outlier profile — the screen a pipeline runs BEFORE
    * trusting a numeric column at scale: per event_type, the median and
    * the median absolute deviation (MAD) of `value`, and how many rows sit
    * more than 3 MADs from the median. Median/MAD instead of mean/stddev
    * because the outliers being hunted would drag a mean-based threshold
    * toward themselves; the exact `percentile` ≡ DuckDB `quantile_cont`
    * equivalence is the one proven by [[profileQuantiles]]. Two
    * group-aggregate passes (median, then MAD of deviations) plus one
    * counting pass — each a map-side-combined aggregate over the events
    * relation; the joins broadcast the group-count-sized stats frames. At
    * 100 TB swap `approx_percentile` into the same shape, as documented on
    * [[profileQuantiles]].
    */
  /** Distributed dense-id assignment over documents ([[graft.operators
    * .DenseIds]]): contiguous 0..N−1 ids with no global window, no RDD
    * zipWithIndex, no partition-order dependence — md5-bucketed ranks plus
    * exclusive bucket offsets, the id layer under embedding-matrix rows /
    * bitset positions / graph node numbering. The oracle replays the
    * identical bucket/rank/offset arithmetic, so the hash match proves the
    * bijection is engine- and partitioning-independent.
    */
  def denseIds(s: SparkSession, d: String): DataFrame =
    graft.operators.DenseIds.assign(
        Tables.documents(s, d).select("doc_id"), col("doc_id"))
      .select(col("doc_id"), col("dense_id"))
      .orderBy("doc_id")

  /** Winsorized robust aggregate: clip event values to their per-type
    * [p05, p95] band, report clip counts and the winsorized mean — the
    * outlier-tolerant cleaning step between raw profiling and model
    * features. Two passes by construction: exact quantiles per type (a
    * bounded-group aggregate), then the thresholds BROADCAST back onto
    * the stream for a clip-and-reaggregate — no sort of the fact table,
    * no self-join. Thresholds are rounded to 6dp in BOTH engines before
    * comparing, so an interpolation ulp cannot flip a boundary row
    * (same guard as profile_drift's bin edges).
    */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val bounds = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.05D)"), 6).as("lo"),
           round(expr("percentile(value, 0.95D)"), 6).as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .select(col("event_type"),
        when(col("value") < col("lo"), col("lo"))
          .when(col("value") > col("hi"), col("hi"))
          .otherwise(col("value")).as("w"),
        (col("value") < col("lo")).cast("long").as("lo_clip"),
        (col("value") > col("hi")).cast("long").as("hi_clip"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum("lo_clip").as("n_lo"), sum("hi_clip").as("n_hi"),
           round(avg("w"), 4).as("avg_winsorized"))
      .orderBy("event_type")
  }

  def profileAnomaly(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_type", "value")
    // med/mad round to 6dp BEFORE any comparison (the k-means rule):
    // Spark's Percentile and DuckDB's quantile_cont state the same type-7
    // interpolation in different algebraic forms, which can differ by an
    // ulp — a row sitting exactly on the unrounded 3·mad threshold would
    // then flip between engines
    val med = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5D)"), 6).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("ad", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(round(expr("percentile(ad, 0.5D)"), 6).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           // med/mad are group-constant after the joins; min() reads them
           // back deterministically (first() would depend on row order)
           round(min(col("med")), 4).as("med"),
           round(min(col("mad")), 4).as("mad"),
           sum(when(col("ad") > lit(3.0) * col("mad"), 1L).otherwise(0L))
             .as("n_outliers"))
      .withColumn("outlier_rate",
        round(col("n_outliers").cast("double") / col("n").cast("double"), 6))
      .orderBy("event_type")
  }

  /** Population-stability-index drift monitor — the check a pipeline runs
    * BEFORE folding a new data epoch into training: per event_type, the
    * `value` distribution of the later half of the time range scored
    * against decile bins fitted on the earlier half (the standard PSI
    * recipe: baseline-quantile bin edges, Laplace-smoothed shares,
    * Σ (p_b − p_a)·ln(p_b/p_a); > 0.2 is the conventional "investigate"
    * threshold). Determinism: the period boundary is an integer epoch-µs
    * midpoint, bin edges are exact type-7 percentiles (≡ quantile_cont),
    * bin assignment is a strict-> fold over the 9 edges, and each PSI term
    * is floor-quantized to integer NANOnats before the cross-bin sum — so
    * the score is exact 64-bit arithmetic, partitioning-independent (every
    * term is ≥ 0 by Gibbs' inequality, so floor never flips a sign).
    *
    * Scale shape: two corpus passes (bin-edge fit on the baseline half,
    * binned group-count over everything) — both map-side-combined
    * aggregates; the grid/share/PSI algebra runs on type×period×10-bin
    * rows. Edges broadcast; nothing corpus-sized shuffles.
    */
  /** Eval-contamination REPORT per source — the audit behind the
    * decontamination stage (the oracle-checkable sibling of the Bloom
    * blocklist path [[graft.pipeline.CorpusJob]] runs): with the shared
    * eval-set convention (doc_id % 10 == 0, the CorpusStream blocklist
    * rule), count per source how many TRAINING docs carry a text
    * byte-identical to some eval doc. Exact md5 equi-join against the
    * DISTINCT eval-hash relation (eval-sized right side — broadcastable
    * at any corpus scale); rate in exact integer micro-units. The number
    * an operator reads before trusting "we decontaminated": which
    * sources leak eval text, and how much.
    */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("th"))
    val ev = docs.filter(col("doc_id") % 10 === 0)
      .select("th").distinct().withColumn("__e", lit(1))
    docs.filter(col("doc_id") % 10 =!= 0)
      .join(ev, Seq("th"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("__e").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        expr("(n_contaminated * 1000000) div n_docs").as("contam_micro"))
      .orderBy("source")
  }

  /** Per-EVAL-DOC n-gram overlap with the training corpus — the
    * "benchmark contamination percentage" table the GPT-3/PaLM appendices
    * report: for each eval doc (doc_id % 10 == 0), the share of its
    * DISTINCT 8-token windows that appear anywhere in training text, in
    * exact integer milli-units. Where `profile_contamination` counts
    * byte-identical leaks and `dedup_decontam_fuzzy` flags whole-doc
    * near-dups, this measures PARTIAL leakage — an eval answer embedded
    * in a longer training doc moves this number and neither of those.
    * Reuses the dedup_spans 8-token window convention via
    * [[DedupQueries.spanWindows]] (one notion of "span"). Scale shape:
    * distinct + one hash equi-join of the eval-sized gram set against the
    * training gram relation (partitioned by gram hash — the join never
    * sees a doc), then a per-doc map-side count.
    */
  def evalOverlap(s: SparkSession, d: String): DataFrame = {
    val spans = DedupQueries.spanWindows(s, d)
      .select(col("doc_id"), col("span_md5")).distinct()
    val train = spans.filter(col("doc_id") % 10 =!= 0)
      .select("span_md5").distinct().withColumn("__t", lit(1))
    spans.filter(col("doc_id") % 10 === 0)
      .join(train, Seq("span_md5"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("__t").isNotNull, 1L).otherwise(0L)).as("n_overlap"))
      .withColumn("overlap_milli", expr("(n_overlap * 1000) div n_grams"))
      .orderBy("doc_id")
  }

  def profileDrift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
    val bounds = ev.agg(min("us").as("lo"), max("us").as("hi"))
    val tagged = ev.crossJoin(broadcast(bounds))
      .withColumn("period",
        when(col("us") < expr("lo + (hi - lo) div 2"), "a").otherwise("b"))
      .select("event_type", "value", "period")
    // bin edges round to 6dp before the strict-> comparisons below — the
    // same ulp-divergence guard as profileAnomaly's med/mad
    val edges = tagged.filter(col("period") === "a").groupBy("event_type")
      .agg(transform(
        expr("percentile(value, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"),
        e => round(e, 6)).as("edges"))
    val binned = tagged.join(broadcast(edges), "event_type")
      .withColumn("bin", aggregate(col("edges"), lit(0),
        (acc, e) => acc + when(col("value") > e, 1).otherwise(0)))
    val counts = binned.groupBy("event_type", "period", "bin").agg(count(lit(1)).as("n"))
    val grid = tagged.select("event_type").distinct()
      .withColumn("period", explode(array(lit("a"), lit("b"))))
      .withColumn("bin", explode(array((0 to 9).map(lit): _*)))
    val full = grid.join(counts, Seq("event_type", "period", "bin"), "left")
      .na.fill(0L, Seq("n"))
    val tot = full.groupBy("event_type", "period").agg(sum("n").as("tn"))
    val shares = full.join(tot, Seq("event_type", "period"))
      .withColumn("p",
        (col("n").cast("double") + lit(1.0)) / (col("tn").cast("double") + lit(10.0)))
    val a = shares.filter(col("period") === "a")
      .select(col("event_type"), col("bin"), col("p").as("pa"), col("tn").as("na"))
    val b = shares.filter(col("period") === "b")
      .select(col("event_type"), col("bin"), col("p").as("pb"), col("tn").as("nb"))
    val psiByType = a.join(b, Seq("event_type", "bin"))
      .groupBy("event_type")
      .agg(sum(floor((col("pb") - col("pa")) * log(col("pb") / col("pa")) * lit(1e9))
          .cast("long")).as("psi_nano"))
    // n_a/n_b are RAW period counts (not binned-grid totals): an
    // event_type with zero baseline rows has no fitted edges, so its
    // period-'b' rows never bin — reporting its n_b from the binned path
    // would claim 0 rows for a type that has data. Such types surface with
    // their true counts and a NULL psi (unscorable without a baseline)
    // instead of a misleading psi = 0.
    val rawCounts = tagged.groupBy("event_type")
      .agg(sum(when(col("period") === "a", 1L).otherwise(0L)).as("n_a"),
           sum(when(col("period") === "b", 1L).otherwise(0L)).as("n_b"))
    rawCounts.join(psiByType, Seq("event_type"), "left_outer")
      .select(col("event_type"), col("n_a"), col("n_b"), col("psi_nano"),
        round(col("psi_nano").cast("double") / lit(1e9), 6).as("psi"))
      .orderBy("event_type")
  }

  /** Per-key partials of the per-customer order rollup: count + exact
    * integer cents (the [[AnalyticsQueries.runningTotal]] decimal-quantize
    * rule, so partial sums reassociate bit-exactly).
    */
  private[graft] def orderPartials(df: DataFrame): DataFrame =
    df.select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_part"), sum("cents").as("cents_part"))

  /** Build the fixture view state once per (session, dir): partials from
    * the standing 4/5 of orders (o_orderkey % 5 ≠ 0), then one epoch
    * merge absorbing the remaining 1/5 — bucket-aligned append, the
    * standing table never read ([[Layout.appendBucketed]]). Returns the
    * state table's name.
    */
  private val orderAggStateMemo = Memo.entry[String]("orderAggState")

  private[graft] def orderAggState(s: SparkSession, d: String): String =
    orderAggStateMemo(s, d) {
      val n = Layout.stateName("graft_ordview_parts", d)
      val o = Tables.orders(s, d)
      Layout.writeBucketed(orderPartials(o.filter(pmod(col("o_orderkey"), lit(5L)) =!= 0L)),
        "o_custkey", n, 16)
      Layout.appendBucketed(orderPartials(o.filter(pmod(col("o_orderkey"), lit(5L)) === 0L)),
        "o_custkey", n, 16)
      n
    }

  /** Incremental materialized-view read: the per-customer order rollup
    * served from PERSISTED partial aggregates (commutative-monoid
    * partials: counts and sums) — write once, absorb each ingest epoch
    * as a bucket-aligned append of batch partials, serve reads by folding
    * the partials. The query here is ONLY the read-side fold; because the
    * state table is bucketed on the grouping key, the fold plans with NO
    * exchange (AggStateSpec pins it), so serving the view after any number
    * of epochs costs one co-located aggregation, never a fact rescan. The
    * oracle is the plain rollup over ALL orders — merge ≡ rebuild stated
    * as SQL, the same equivalence DedupStateMergeSpec pins for the dedup
    * state family.
    */
  def aggIncremental(s: SparkSession, d: String): DataFrame = {
    s.table(orderAggState(s, d))
      .groupBy("o_custkey")
      .agg(sum("n_part").as("n_orders"), sum("cents_part").as("sum_cents"))
      // the average in exact integer MICRO-dollars (floor division):
      // round(cents/n/100, 4) lands on exact half-boundaries whenever n
      // divides a power of 2 (cents/8/100 terminates at the 4th decimal),
      // where Spark's HALF_UP-via-decimal-string and DuckDB's
      // binary-value rounding disagree by one ulp — integer arithmetic
      // has no boundary to disagree on
      .select(col("o_custkey"), col("n_orders"), col("sum_cents"),
        expr("(sum_cents * 10000) div n_orders").as("avg_price_micro"))
      .orderBy("o_custkey")
  }

  private val MedianBins = 1024L

  /** EXACT median of lineitem revenue by distributed SELECTION, not sort:
    * the built-in exact `percentile` is a TypedImperativeAggregate that
    * buffers every value — fine at sf0.1, dead at 100 TB — and a global
    * sort is the thing a 1000-executor job must never do for one scalar.
    * Selection instead: (1) one pass for bounds + count, (2) one
    * map-side-combined pass per level builds a [[MedianBins]]-bin INTEGER
    * histogram (bin = ((v−lo)·B) div (hi−lo+1) — exact arithmetic, no
    * float binning to diverge), (3) cumulative counts over the ≤1024-row
    * histogram locate the bin holding each middle rank, (4) the selection
    * RECURSES inside that bin's value range until it either collapses to
    * a single value or fits a bounded ranking window — so a degenerate
    * distribution that piles 90% of the corpus into one value can never
    * funnel ~n rows through a single sort task (the
    * [[graft.operators.OrderStats]] contract; OrderStatsSpec pins the
    * heavy-ties bound, and anything price-like finishes in one level).
    *
    * Output is `(n, mid_cents_sum)` — the SUM of the middle order
    * statistic(s) in exact integer cents (two values for even n, one for
    * odd), so the answer carries no interpolation float at all. The
    * oracle computes the same order statistics by global sort — two
    * different algorithms, one exact integer answer.
    *
    * Cost adjudication (round 9): the query is a fixed ladder of ~4
    * driver-coordinated jobs (checkpoint, bounds+count, one histogram
    * level — price-like data converges in one — and the bounded finish),
    * each paying Spark's ~0.25 s job floor at sf0.1, so the ~1 s total is
    * CONSTANT IN DATA SIZE while the single-thread comparator's 0.16 s
    * sort grows n·log n and its `quantile` buffer grows n. The ladder is
    * the entire point of the operator: at 100 TB the same 4 jobs run with
    * bigger-but-parallel stages where a global sort or a value-buffering
    * percentile cannot run at all. Same adjudication for
    * [[medianByType]], whose grouped form already batches every group
    * through one pass per level. Accepted cost of the demonstration
    * scale.
    */
  def medianScalable(s: SparkSession, d: String): DataFrame = {
    val v = Tables.lineitem(s, d).select(
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("v"))
      .transform(Materialize.frame)
    val (n, vals, _) = graft.operators.OrderStats.selectRanksOf(
      v, m => Seq((m + 1) / 2, m / 2 + 1).distinct, bins = MedianBins.toInt)
    val (k1, k2) = ((n + 1) / 2, n / 2 + 1)
    val mid = if (k1 == k2) vals(k1) else vals(k1) + vals(k2)
    s.range(1).select(lit(n).as("n"), lit(mid).as("mid_cents_sum"))
  }

  /** EXACT per-group median — [[medianScalable]] generalized across the
    * event types in one shot via
    * [[graft.operators.OrderStats.selectRanksGrouped]]: every group's
    * selection advances through the SAME batched histogram passes (one
    * filtered scan + one (group, range, bin) aggregate per level, however
    * many groups there are), so k exact medians cost the passes of one —
    * the grouped-scalar profile a 100 TB pipeline wants instead of k
    * value-buffering `percentile` calls or one global sort per group.
    * Values are floor(value·10⁴) integer deci-milli-units (floor of an
    * IEEE product — identical on both engines, no decimal-cast
    * half-boundary to diverge on); output = the sum of each group's
    * middle order statistic(s), no interpolation float. The oracle sorts
    * per group — two algorithms, one exact integer answer.
    */
  def medianByType(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("g"),
        floor(col("value") * 10000).cast("long").as("v"))
      .transform(Materialize.frame)
    val res = graft.operators.OrderStats.selectRanksGrouped(
      v, (_, n) => Seq((n + 1) / 2, n / 2 + 1).distinct)
    res.toSeq.sortBy(_._1).map { case (g, (n, vals)) =>
      val (k1, k2) = ((n + 1) / 2, n / 2 + 1)
      (g, n, if (k1 == k2) vals(k1) else vals(k1) + vals(k2))
    }.toDF("event_type", "n", "mid_dmilli_sum")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "profile_median_scalable" -> (medianScalable _),
    "profile_median_by_type" -> (medianByType _),
    "c28_agg_incremental" -> (aggIncremental _),
    "profile_drift" -> (profileDrift _),
    "profile_contamination" -> (contamination _),
    "profile_eval_overlap" -> (evalOverlap _),
    "profile_anomaly" -> (profileAnomaly _),
    "profile_quantiles" -> (profileQuantiles _),
    "profile_winsorize" -> (winsorize _),
    "c27_dense_ids" -> (denseIds _),
    "profile_orders" -> (profileOrders _),
    "layout_zvalue" -> (layoutZvalue _),
    "layout_zvalue3" -> (layoutZvalue3 _),
    "layout_hilbert" -> (layoutHilbert _),
    "profile_skew" -> (skewProfile _),
    "c14_pivot" -> (pivot _),
    "c4b_cube" -> (cube _),
    "c4c_grouping_sets" -> (groupingSets _),
    "c7e_map_fns" -> (mapFns _),
    "c16_pricing_summary" -> (pricingSummary _),
    "asof_last_view" -> (asofLastView _),
    "asof_next_view" -> (asofNextView _),
    "asof_tolerance_view" -> (asofToleranceView _),
    "sim_centroid" -> (centroid _),
  )

  val oracle: Map[String, String] = Map(
    "profile_median_scalable" ->
      """WITH c AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM lineitem),
        |r AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |         count(*) OVER () AS n
        |  FROM c)
        |SELECT CAST(min(n) AS BIGINT) AS n,
        |       CAST(sum(v) AS BIGINT) AS mid_cents_sum
        |FROM r WHERE rn IN ((n + 1) // 2, n // 2 + 1)""".stripMargin,
    "c28_agg_incremental" ->
      """WITH c AS (
        |  SELECT o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST((sum(cents) * 10000) // count(*) AS BIGINT) AS avg_price_micro
        |FROM c GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "c27_dense_ids" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substring(md5('ids:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hh
        |  FROM documents),
        |b AS (SELECT doc_id, hh, hh % 1024 AS bk FROM h),
        |rk AS (
        |  SELECT doc_id, bk,
        |    row_number() OVER (PARTITION BY bk ORDER BY hh, doc_id) - 1 AS rn
        |  FROM b),
        |off AS (
        |  SELECT bk, coalesce(sum(n) OVER (ORDER BY bk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM (SELECT bk, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bk) t)
        |SELECT r.doc_id, CAST(o.off + r.rn AS BIGINT) AS dense_id
        |FROM rk r JOIN off o ON r.bk = o.bk
        |ORDER BY doc_id""".stripMargin,
    "profile_winsorize" ->
      """WITH b AS (
        |  SELECT event_type, round(quantile_cont(value, 0.05), 6) AS lo,
        |         round(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  round(avg(CASE WHEN e.value < b.lo THEN b.lo
        |                 WHEN e.value > b.hi THEN b.hi
        |                 ELSE e.value END), 4) AS avg_winsorized
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type ORDER BY event_type""".stripMargin,
    "profile_median_by_type" ->
      """WITH c AS (
        |  SELECT event_type AS g, CAST(floor(value * 10000) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM c)
        |SELECT g AS event_type, CAST(min(n) AS BIGINT) AS n,
        |  CAST(sum(v) AS BIGINT) AS mid_dmilli_sum
        |FROM r WHERE rn IN ((n + 1) // 2, n // 2 + 1)
        |GROUP BY g ORDER BY g""".stripMargin,
    "profile_eval_overlap" ->
      // the dedup_spans 8-token window restated (winnowSelCtes' w CTE)
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, md5(array_to_string(toks[i : i+7], ' ')) AS g
        |  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
        |  WHERE len(toks) >= 8),
        |dg AS (SELECT DISTINCT doc_id, g FROM w),
        |tr AS (SELECT DISTINCT g FROM dg WHERE doc_id % 10 <> 0),
        |ev AS (
        |  SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
        |  FROM dg LEFT JOIN tr ON dg.g = tr.g
        |  WHERE dg.doc_id % 10 = 0 GROUP BY dg.doc_id)
        |SELECT doc_id, n_grams, n_overlap,
        |  CAST((n_overlap * 1000) // n_grams AS BIGINT) AS overlap_milli
        |FROM ev ORDER BY doc_id""".stripMargin,
    "profile_contamination" ->
      """WITH d AS (SELECT doc_id, source, md5(text) AS th FROM documents),
        |ev AS (SELECT DISTINCT th FROM d WHERE doc_id % 10 = 0),
        |tr AS (SELECT d.source,
        |         CASE WHEN ev.th IS NOT NULL THEN 1 ELSE 0 END AS hit
        |       FROM d LEFT JOIN ev ON d.th = ev.th
        |       WHERE d.doc_id % 10 <> 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(hit) AS BIGINT) AS n_contaminated,
        |  CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS contam_micro
        |FROM tr GROUP BY source ORDER BY source""".stripMargin,
    "profile_drift" ->
      """WITH ev AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
        |bo AS (SELECT min(us) AS lo, max(us) AS hi FROM ev),
        |t AS (
        |  SELECT e.event_type, e.value,
        |    CASE WHEN e.us < bo.lo + (bo.hi - bo.lo) // 2 THEN 'a' ELSE 'b' END AS period
        |  FROM ev e, bo),
        |ed AS (
        |  SELECT event_type,
        |    [round(quantile_cont(value, 0.1), 6), round(quantile_cont(value, 0.2), 6),
        |     round(quantile_cont(value, 0.3), 6), round(quantile_cont(value, 0.4), 6),
        |     round(quantile_cont(value, 0.5), 6), round(quantile_cont(value, 0.6), 6),
        |     round(quantile_cont(value, 0.7), 6), round(quantile_cont(value, 0.8), 6),
        |     round(quantile_cont(value, 0.9), 6)] AS edges
        |  FROM t WHERE period = 'a' GROUP BY event_type),
        |bn AS (
        |  SELECT t.event_type, t.period,
        |    CAST(list_sum(list_transform(ed.edges,
        |      x -> CASE WHEN t.value > x THEN 1 ELSE 0 END)) AS INTEGER) AS bin
        |  FROM t JOIN ed USING (event_type)),
        |g AS (SELECT DISTINCT event_type FROM t),
        |grid AS (
        |  SELECT g.event_type, p.period, CAST(b.bin AS INTEGER) AS bin
        |  FROM g, (VALUES ('a'), ('b')) p(period), range(0, 10) b(bin)),
        |c AS (SELECT event_type, period, bin, CAST(count(*) AS BIGINT) AS n
        |      FROM bn GROUP BY 1, 2, 3),
        |f AS (SELECT grid.event_type, grid.period, grid.bin, coalesce(c.n, 0) AS n
        |      FROM grid LEFT JOIN c USING (event_type, period, bin)),
        |tt AS (SELECT event_type, period, CAST(sum(n) AS BIGINT) AS tn
        |       FROM f GROUP BY 1, 2),
        |sh AS (
        |  SELECT f.event_type, f.period, f.bin, tt.tn,
        |    (CAST(f.n AS DOUBLE) + 1.0) / (CAST(tt.tn AS DOUBLE) + 10.0) AS p
        |  FROM f JOIN tt USING (event_type, period)),
        |ps AS (
        |  SELECT a.event_type,
        |    CAST(sum(CAST(floor((b.p - a.p) * ln(b.p / a.p) * 1000000000.0)
        |                  AS BIGINT)) AS BIGINT) AS psi_nano
        |  FROM sh a JOIN sh b ON a.event_type = b.event_type AND a.bin = b.bin
        |   AND a.period = 'a' AND b.period = 'b'
        |  GROUP BY a.event_type),
        |raw AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM t GROUP BY event_type)
        |SELECT raw.event_type, raw.n_a, raw.n_b, ps.psi_nano,
        |  round(CAST(ps.psi_nano AS DOUBLE) / 1000000000.0, 6) AS psi
        |FROM raw LEFT JOIN ps USING (event_type)
        |ORDER BY raw.event_type""".stripMargin,
    "profile_anomaly" ->
      """WITH m AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY event_type),
        |d AS (
        |  SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
        |  FROM events e JOIN m USING (event_type)),
        |md AS (
        |  SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
        |  FROM d GROUP BY event_type)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(min(d.med), 4) AS med,
        |  round(min(md.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN d.ad > 3.0 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  round(CAST(sum(CASE WHEN d.ad > 3.0 * md.mad THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE), 6) AS outlier_rate
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "profile_quantiles" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "layout_zvalue" -> {
      // the same 12-bit interleave as Layout.zvalue, spelled in portable
      // integer bit arithmetic
      val terms = (0 until Layout.Bits).map(i =>
        s"(((a >> $i) & 1) << ${2 * i}) | (((b >> $i) & 1) << ${2 * i + 1})")
      s"""WITH t AS (SELECT CAST(o_custkey % 4096 AS BIGINT) AS a,
         |                  CAST(o_orderkey % 4096 AS BIGINT) AS b FROM orders),
         |z AS (SELECT (${terms.mkString(" | ")}) AS z FROM t)
         |SELECT CAST(z >> 18 AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n,
         |       CAST(min(z) AS BIGINT) AS min_z, CAST(max(z) AS BIGINT) AS max_z
         |FROM z GROUP BY cell ORDER BY cell""".stripMargin
    },
    "layout_hilbert" -> {
      // the same per-level rotate/reflect rounds, unrolled by the shared
      // generator in graft.functions.Hilbert — not hand-copied
      val rounds = graft.functions.Hilbert.oracleSql(
        "(SELECT CAST(o_custkey % 4096 AS BIGINT) AS hx, " +
          "CAST(o_orderkey % 4096 AS BIGINT) AS hy FROM orders)")
      s"""WITH h AS ($rounds)
         |SELECT CAST(hd >> 18 AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n,
         |       CAST(min(hd) AS BIGINT) AS min_h, CAST(max(hd) AS BIGINT) AS max_h
         |FROM h GROUP BY cell ORDER BY cell""".stripMargin
    },
    "layout_zvalue3" -> {
      // 3-dim interleave: bit i of dim d lands at 3i + d
      val terms = (0 until Layout.Bits).flatMap(i => Seq(
        s"(((a >> $i) & 1) << ${3 * i})",
        s"(((b >> $i) & 1) << ${3 * i + 1})",
        s"(((c >> $i) & 1) << ${3 * i + 2})"))
      s"""WITH t AS (SELECT CAST(o_custkey % 4096 AS BIGINT) AS a,
         |                  CAST(o_orderkey % 4096 AS BIGINT) AS b,
         |                  CAST(floor(o_totalprice) AS BIGINT) % 4096 AS c
         |           FROM orders),
         |z AS (SELECT (${terms.mkString(" | ")}) AS z FROM t)
         |SELECT CAST(z >> 30 AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n,
         |       CAST(min(z) AS BIGINT) AS min_z, CAST(max(z) AS BIGINT) AS max_z
         |FROM z GROUP BY cell ORDER BY cell""".stripMargin
    },
    "profile_skew" -> {
      def branch(rel: String, key: String) =
        s"""SELECT '$rel.$key' AS key_col,
           |  CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(n) AS BIGINT) AS n_rows,
           |  CAST(max(n) AS BIGINT) AS max_n,
           |  round(avg(n), 4) AS avg_n,
           |  round(quantile_cont(n, 0.5), 4) AS p50,
           |  round(quantile_cont(n, 0.99), 4) AS p99,
           |  round(CAST(max(n) AS DOUBLE) / avg(n), 4) AS skew_ratio
           |FROM (SELECT $key, count(*) AS n FROM $rel GROUP BY $key) t""".stripMargin
      branch("lineitem", "l_orderkey") + "\nUNION ALL\n" +
        branch("events", "user_id") + "\nORDER BY key_col"
    },
    "profile_orders" -> {
      def row(c: String, mn: String, mx: String) =
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  $mn AS min_s, $mx AS max_s FROM orders""".stripMargin
      Seq(
        row("o_orderkey", "CAST(min(o_orderkey) AS VARCHAR)", "CAST(max(o_orderkey) AS VARCHAR)"),
        row("o_custkey", "CAST(min(o_custkey) AS VARCHAR)", "CAST(max(o_custkey) AS VARCHAR)"),
        row("o_orderstatus", "min(o_orderstatus)", "max(o_orderstatus)"),
        row("o_totalprice", "CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)",
                            "CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)"),
        row("o_orderdate", "CAST(min(o_orderdate) AS VARCHAR)", "CAST(max(o_orderdate) AS VARCHAR)"),
        row("o_orderpriority", "min(o_orderpriority)", "max(o_orderpriority)"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    "c14_pivot" ->
      """SELECT user_id,
        |  round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS click,
        |  round(sum(value) FILTER (WHERE event_type = 'error'), 2) AS error,
        |  round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
        |  round(sum(value) FILTER (WHERE event_type = 'signup'), 2) AS signup,
        |  round(sum(value) FILTER (WHERE event_type = 'view'), 2) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "c4b_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS prio,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, prio, gid, n, total""".stripMargin,
    "c16_pricing_summary" ->
      """SELECT l_returnflag,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem WHERE l_linenumber <= 6
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "c4c_grouping_sets" ->
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |       coalesce(c_mktsegment, 'ALL') AS segment,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(GROUPING(n_name) * 2 + GROUPING(c_mktsegment) AS BIGINT) AS gid
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), (c_mktsegment), ())
        |ORDER BY nation, segment, gid""".stripMargin,
    "c7e_map_fns" ->
      """SELECT n_nationkey,
        |  (MAP {'name': n_name, 'region': CAST(n_regionkey AS VARCHAR)})['name'][1] AS name_v,
        |  (MAP {'name': n_name, 'region': CAST(n_regionkey AS VARCHAR)})['nope'][1] AS missing_v,
        |  CAST(cardinality(MAP {'name': n_name, 'region': CAST(n_regionkey AS VARCHAR)}) AS BIGINT) AS m_size,
        |  array_to_string(list_sort(map_keys(MAP {'name': n_name, 'region': CAST(n_regionkey AS VARCHAR)})), ',') AS keys_csv
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "asof_next_view" ->
      """WITH u AS (
        |  SELECT event_id, user_id, ts, 0 AS tag, CAST(NULL AS DOUBLE) AS val
        |  FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT CAST(NULL AS BIGINT), user_id, ts, 1 AS tag, value
        |  FROM events WHERE event_type = 'view'
        |)
        |SELECT event_id, user_id,
        |  first_value(val IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), tag, val
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS asof_value
        |FROM u QUALIFY tag = 0 ORDER BY event_id""".stripMargin,
    "asof_tolerance_view" ->
      """WITH u AS (
        |  SELECT event_id, user_id, ts, 1 AS tag, CAST(NULL AS DOUBLE) AS val
        |  FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT CAST(NULL AS BIGINT), user_id, ts, 0 AS tag, value
        |  FROM events WHERE event_type = 'view'
        |),
        |m AS (
        |  SELECT event_id, user_id, ts, tag,
        |    last_value(val IGNORE NULLS) OVER w AS mval,
        |    last_value(CASE WHEN tag = 0 AND val IS NOT NULL
        |                    THEN epoch_us(ts) END IGNORE NULLS) OVER w AS mts
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), tag, val
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id,
        |  CASE WHEN mts IS NOT NULL AND mts >= epoch_us(ts) - 600000000
        |       THEN mval END AS asof_value
        |FROM m WHERE tag = 1 ORDER BY event_id""".stripMargin,
    "asof_last_view" ->
      """WITH u AS (
        |  SELECT event_id, user_id, ts, 1 AS tag, CAST(NULL AS DOUBLE) AS val
        |  FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT CAST(NULL AS BIGINT), user_id, ts, 0 AS tag, value
        |  FROM events WHERE event_type = 'view'
        |)
        |SELECT event_id, user_id,
        |  last_value(val IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), tag, val
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
        |FROM u QUALIFY tag = 1 ORDER BY event_id""".stripMargin,
    "sim_centroid" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(v[1]), 4) AS c0, round(avg(v[2]), 4) AS c1,
        |  round(avg(v[3]), 4) AS c2, round(avg(v[4]), 4) AS c3
        |FROM e GROUP BY label ORDER BY label""".stripMargin,
  )
}
