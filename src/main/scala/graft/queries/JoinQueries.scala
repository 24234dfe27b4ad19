package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join/predicate/array surface completing SURVEY §2b's inventory rows:
  * outer joins, theta (non-equi) join, the predicate kit, array functions.
  */
object JoinQueries {

  /** Left outer: order counts per customer including zero-order customers;
    * full outer: supplier vs customer key space with side tags.
    */
  def outer(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select("c_custkey")
    val o = Tables.orders(s, d).select("o_custkey", "o_orderkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  def fullOuter(s: SparkSession, d: String): DataFrame = {
    val sk = Tables.supplier(s, d).select(col("s_suppkey").as("sk"))
    val ck = Tables.customer(s, d).select(col("c_custkey").as("ck"))
      .filter(col("ck") <= 20)
    sk.join(ck, col("sk") === col("ck"), "full_outer")
      .select(
        coalesce(col("sk"), col("ck")).as("k"),
        when(col("sk").isNotNull && col("ck").isNotNull, "both")
          .when(col("sk").isNotNull, "supplier_only")
          .otherwise("customer_only").as("side"))
      .orderBy("k", "side")
  }

  /** MERGE / upsert semantics (the snapshot-maintenance op an append-only
    * sink like the reference's cannot express): a deterministic change
    * batch — price-bumped updates for keys ≡3 (mod 10), brand-new rows
    * (negated keys, guaranteed absent) for keys ≡7 — applies to the orders
    * snapshot via ONE full outer join + coalesce. Each output row is tagged
    * `update` / `insert` / `keep`, so the result is both the new snapshot
    * and its change audit. At 100 TB this is the standard merge shape: one
    * shuffle on the key for each side, AQE free to broadcast a small batch;
    * no driver-side diffing.
    */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val cur = Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    // the price bump runs in DECIMAL, not double: round(double·1.1, 2) is
    // engine-divergent exactly at .xx5 boundaries (Spark rounds the
    // shortest decimal repr half-up, DuckDB rounds the binary double,
    // which sits just BELOW .xx5) — one sf0.1 row hit it. Decimal
    // arithmetic is exact, so both engines round the same .915.
    val dec = col("o_totalprice").cast("decimal(18,2)")
    val updates = cur.filter(col("o_orderkey") % 10 === 3)
      .select(col("o_orderkey"),
              round(dec * lit(new java.math.BigDecimal("1.1")), 2)
                .cast("decimal(18,2)").as("u_totalprice"),
              lit("U").as("u_orderstatus"))
    val inserts = cur.filter(col("o_orderkey") % 10 === 7)
      .select((-col("o_orderkey")).as("o_orderkey"),
              dec.as("u_totalprice"),
              lit("N").as("u_orderstatus"))
    val changes = updates.unionByName(inserts)
    cur.join(changes, Seq("o_orderkey"), "full_outer")
      .select(
        col("o_orderkey"),
        // arithmetic stays decimal (exact .xx5 rounding in both engines);
        // the OUTPUT goes back to double — decimal(18,2) at these
        // magnitudes converts exactly, and a double column hashes the same
        // across every reader, where a decimal's textual repr may not.
        coalesce(col("u_totalprice"),
                 col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("price"),
        coalesce(col("u_orderstatus"), col("o_orderstatus")).as("status"),
        when(col("u_totalprice").isNotNull && col("o_totalprice").isNotNull, "update")
          .when(col("o_totalprice").isNull, "insert")
          .otherwise("keep").as("action"))
      .orderBy("o_orderkey")
  }

  /** Theta join: equi on nation + non-equi on balances; per-nation counts. */
  def theta(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(col("s_nationkey"), col("s_acctbal"))
      .join(Tables.customer(s, d).select(col("c_nationkey"), col("c_acctbal")),
            col("s_nationkey") === col("c_nationkey") &&
              col("s_acctbal") < col("c_acctbal"))
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("nationkey")

  /** Predicate kit: LIKE / NOT LIKE / BETWEEN / IS NULL / null-safe compare. */
  def predicates(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      col("p_name").like("%a%").as("has_a"),
      (!col("p_type").like("%STEEL%")).as("not_steel"),
      col("p_size").between(10, 20).as("mid_size"),
      col("p_brand").isNull.as("brand_null"),
      (col("p_brand") <=> col("p_type")).as("brand_eq_type"))
      .orderBy("p_partkey")

  /** Array function kit over document tokens: sort/slice/contains/size. */
  def arrays(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
              array_distinct(graft.operators.TextAnalysis.tokens(col("text"))).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_distinct"),
        concat_ws(",", slice(sort_array(col("toks")), 1, 3)).as("first3"),
        array_contains(col("toks"), "the").as("has_the"))
      .orderBy("doc_id")

  /** Bin width for [[rangeJoin]] — also the match radius, so candidate
    * bins are exactly {bin−1, bin, bin+1}.
    */
  private val RangeW = 5000000L // 5 s in µs

  /** Interval/range join without a range-join operator: cross-USER event
    * pairs within 5 s of each other (the coincidence/burst-correlation
    * query), aggregated per type pair. A range-only predicate gives Spark
    * no equi-key, so the naive plan is BroadcastNestedLoopJoin — O(n²)
    * comparisons and a single-node broadcast that both die at scale. The
    * standard fix, used here, is BINNING: quantize time into
    * width-=-radius bins, explode ONE side to its 3 candidate bins, and
    * equi-join on the bin key — every true pair lands in exactly one
    * (bin_a = probe_b) bucket, so no dedup pass is needed, and the plan
    * is a plain shuffled equi-join (pinned in PlanAuditSpec: no
    * nested-loop, no cartesian) that partitions across any cluster. Cost:
    * one 3× replication of the probe side vs n² — at 100 TB the
    * difference between a join and a non-starter. Skewed bins (event
    * bursts) are AQE's skew-join case, and the bin key composes with a
    * coarser salt if a single second holds millions of events.
    *
    * Determinism: pairs are ordered by event_id (a < b), deltas are exact
    * integer µs (`unix_micros` ≡ DuckDB `epoch_us`); the oracle states
    * the same join naively — any bin-edge bug (a pair straddling bins,
    * double-counted or missed) breaks the hash match.
    */
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val a = ev.select(col("event_id").as("id_a"), col("user_id").as("u_a"),
      col("event_type").as("type_a"), col("us").as("us_a"),
      expr(s"us div $RangeW").as("bin"))
    val b = ev.select(col("event_id").as("id_b"), col("user_id").as("u_b"),
      col("event_type").as("type_b"), col("us").as("us_b"),
      explode(array(expr(s"us div $RangeW - 1"), expr(s"us div $RangeW"),
        expr(s"us div $RangeW + 1"))).as("bin"))
    a.join(b, Seq("bin"))
      .filter(col("u_a") =!= col("u_b") && col("id_a") < col("id_b") &&
        abs(col("us_a") - col("us_b")) <= RangeW)
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_pairs"),
           sum(abs(col("us_a") - col("us_b"))).cast("long").as("sum_abs_us"))
      .orderBy("type_a", "type_b")
  }

  /** Salt fan-out for [[saltedJoin]]. */
  private val SaltS = 8

  /** Hot-key frequency threshold for [[saltedJoin]]: fact keys with at
    * least this many rows take the salted path. Absolute here so both
    * paths stay populated at every fixture scale (TPC-H orders carry 1–7
    * lineitems uniformly); a production deployment derives it from the
    * `profile_skew` census instead — e.g. rows-per-reducer target, or
    * mean + k·stddev of the key histogram.
    */
  private val HotKeyMinRows = 5L

  /** Skew-salted join in its PRODUCTION form — hot-key-scoped, never
    * blanket: lineitem ⋈ orders on orderkey, revenue by priority.
    *
    *  1. A map-side-combined key census finds the HOT fact keys (frequency
    *     ≥ [[HotKeyMinRows]]) — the `profile_skew` machinery, run ONCE per
    *     (session, corpus) by [[hotOrderKeys]] and SERVED to the join (a
    *     real deployment refreshes it per ingest epoch). The census never
    *     appears in the query's own plan.
    *  2. ONE equi-join on the widened (orderkey, salt) key
    *     ([[graft.operators.Skew.hotScopedJoinWithKeys]]): hot fact rows
    *     tag a deterministic content salt in [0, S) and hot dim rows
    *     replicate ×S, so a key that held one executor hostage spreads
    *     across S partitions; COLD keys ride salt 0 with fan-out 1 — the
    *     cold tier is just the degenerate salt count, not a second join,
    *     so each side is scanned exactly once. A blanket ×S replication
    *     of a 100 TB-scale dim for keys that are not skewed is pure
    *     wasted shuffle volume (the round-8 review measured the blanket
    *     form at 13× the plain join); replication here touches only the
    *     hot slice.
    *
    * Row-identical to the plain join the oracle states — each fact row
    * matches exactly one dim replica (its salt) — salting remains a
    * partitioning trick, never a semantics change.
    *
    * When to reach for it at 100 TB: AQE's skew-join split handles
    * sort-merge spills adaptively, but salting remains the answer when
    * the skew is in the AGGREGATE (two-stage groupBy over (key, salt)
    * then key), when AQE can't see the skew (it's per-partition
    * post-filter), or off-Spark. The plan pin asserts the join really
    * runs on the widened key, exactly one join and one (conditional)
    * replication exist, and no census aggregate or membership join rides
    * in the plan.
    *
    * Cost adjudication (round 9, revised round 12): the comparator is the
    * PLAIN join (the oracle — salting must be invisible), so the ratio
    * prices the skew machinery itself. Round 11 measured the inline-census
    * two-path form at 11 jobs / 6.5× floor-adjusted; the served-census
    * single-join form prices the salt at one conditional explode + the
    * widened shuffle key.
    */
  /** The memoized hot-key census behind [[saltedJoin]] — computed ONCE
    * per (session, corpus) and served to the join as a literal key set
    * (the round-11 job-diet fix: the census is corpus-stable, the same
    * relation `profile_skew` profiles, so rediscovering it inside every
    * join's plan spent 5 of the query's 11 jobs on fixed-point work). The
    * collect is bounded by construction — ≥[[HotKeyMinRows]]-row keys
    * number at most rows/threshold — and guarded loudly at 65536 keys: a
    * hot set bigger than an IN-list is a repartition problem, not a salt
    * problem.
    */
  /** Census sizes a driver will SERVE as a literal set. Above it the
    * join recomputes the census in-plan as a broadcast relation
    * ([[graft.operators.Skew.hotScopedJoin]]) — a "hot" set this large
    * is no longer a handful of viral keys but a structural fraction of
    * the key space (the fixture's absolute threshold marks ~43% of
    * orders hot, so a 10× replica crosses any driver-side bound), and a
    * megabyte-scale literal in every task binary is worse than one
    * broadcast. Both forms are row-identical.
    */
  private val MaxServedHotKeys = 65536

  private val hotKeysMemo = Memo.entry[Option[Seq[Long]]]("hotOrderKeys")
  private def hotOrderKeys(s: SparkSession, d: String): Option[Seq[Long]] =
    hotKeysMemo(s, d) {
      // count first: never collect an over-bound census to the driver
      val census = Tables.lineitem(s, d)
        .groupBy("l_orderkey").agg(count(lit(1)).as("__f"))
        .filter(col("__f") >= HotKeyMinRows)
      if (census.limit(MaxServedHotKeys + 1).count() > MaxServedHotKeys) None
      else Some(census.select("l_orderkey")
        .collect().map(_.getLong(0)).sorted.toSeq)
    }

  def saltedJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
              col("l_linenumber"))
    val ords = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    hotOrderKeys(s, d).fold(
        graft.operators.Skew.hotScopedJoin(li, ords, "l_orderkey",
          "o_orderkey", hotMinRows = HotKeyMinRows, salts = SaltS,
          saltOn = col("l_linenumber")))(keys =>
        graft.operators.Skew.hotScopedJoinWithKeys(li, ords, "l_orderkey",
          "o_orderkey", keys, salts = SaltS, saltOn = col("l_linenumber")))
      .select("o_orderpriority", "l_extendedprice", "l_discount")
      .groupBy("o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
             .as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c24_salted_join" -> (saltedJoin _),
    "c23_range_join" -> (rangeJoin _),
    "c2b_left_outer" -> (outer _),
    "c20_merge_upsert" -> (mergeUpsert _),
    "c2c_full_outer" -> (fullOuter _),
    "c2d_theta_join" -> (theta _),
    "c7d_predicates" -> (predicates _),
    "c12b_arrays" -> (arrays _),
  )

  val oracle: Map[String, String] = Map(
    // salting must be invisible in the result: the oracle is the PLAIN join
    "c24_salted_join" ->
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the binned equi-join restated as the naive range join it must equal
    "c23_range_join" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
         |           FROM events)
         |SELECT a.event_type AS type_a, b.event_type AS type_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(abs(a.us - b.us)) AS BIGINT) AS sum_abs_us
         |FROM e a JOIN e b
         |  ON a.user_id <> b.user_id AND a.event_id < b.event_id
         |  AND abs(a.us - b.us) <= $RangeW
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "c20_merge_upsert" ->
      """WITH cur AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |upd AS (SELECT o_orderkey,
        |               CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2)
        |                    AS DECIMAL(18,2)) AS u_totalprice,
        |               'U' AS u_orderstatus
        |        FROM cur WHERE o_orderkey % 10 = 3),
        |ins AS (SELECT -o_orderkey AS o_orderkey,
        |               CAST(o_totalprice AS DECIMAL(18,2)) AS u_totalprice,
        |               'N' AS u_orderstatus
        |        FROM cur WHERE o_orderkey % 10 = 7),
        |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT coalesce(cur.o_orderkey, ch.o_orderkey) AS o_orderkey,
        |  CAST(coalesce(ch.u_totalprice,
        |                CAST(cur.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
        |  coalesce(ch.u_orderstatus, cur.o_orderstatus) AS status,
        |  CASE WHEN ch.u_totalprice IS NOT NULL AND cur.o_totalprice IS NOT NULL
        |         THEN 'update'
        |       WHEN cur.o_totalprice IS NULL THEN 'insert'
        |       ELSE 'keep' END AS action
        |FROM cur FULL OUTER JOIN ch ON cur.o_orderkey = ch.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "c2b_left_outer" ->
      """SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "c2c_full_outer" ->
      """SELECT coalesce(sk, ck) AS k,
        |  CASE WHEN sk IS NOT NULL AND ck IS NOT NULL THEN 'both'
        |       WHEN sk IS NOT NULL THEN 'supplier_only'
        |       ELSE 'customer_only' END AS side
        |FROM (SELECT s_suppkey AS sk FROM supplier) s
        |FULL OUTER JOIN (SELECT c_custkey AS ck FROM customer WHERE c_custkey <= 20) c
        |  ON sk = ck
        |ORDER BY k, side""".stripMargin,
    "c2d_theta_join" ->
      """SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey AND s_acctbal < c_acctbal
        |GROUP BY s_nationkey ORDER BY nationkey""".stripMargin,
    "c7d_predicates" ->
      """SELECT p_partkey,
        |  p_name LIKE '%a%' AS has_a,
        |  NOT (p_type LIKE '%STEEL%') AS not_steel,
        |  p_size BETWEEN 10 AND 20 AS mid_size,
        |  p_brand IS NULL AS brand_null,
        |  p_brand IS NOT DISTINCT FROM p_type AS brand_eq_type
        |FROM part ORDER BY p_partkey""".stripMargin,
    "c12b_arrays" ->
      """WITH t AS (SELECT doc_id,
        |  list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
        |FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_distinct,
        |  array_to_string(list_sort(toks)[1:3], ',') AS first3,
        |  list_contains(toks, 'the') AS has_the
        |FROM t ORDER BY doc_id""".stripMargin,
  )
}
