package graft.queries

import graft.Tables
import graft.functions.{Bloom, Cms, KmvOps}
import graft.operators.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bloom-prefilter query patterns. HLL and CMS are approximate and therefore
  * engine-tested (HllSpec/CmsSpec), but a Bloom PREFILTER composes into
  * EXACT queries: Bloom has no false negatives, so following the probe with
  * the exact join keeps results bit-identical to the plain join while the
  * shuffle carries only the (tiny) candidate superset. These two queries are
  * the canonical 100 TB shapes:
  *
  *  - join pruning: filter a big fact scan by a broadcast filter built from
  *    the qualifying keys of a selective dim predicate BEFORE the exact
  *    semi-join — the exchange shrinks from |fact| to |candidates|;
  *  - decontamination: an anti-join split where rows the filter rejects are
  *    provably clean (no false negatives!) and skip the join entirely; only
  *    "maybe" rows — blocklist hits plus the configured false-positive
  *    rate — pay for the exact anti-join.
  *
  * The oracle states the same queries as plain semi/anti joins: any
  * false-negative in the filter or slip in the split logic breaks the hash
  * match.
  */
object SketchQueries {

  /** Revenue of lineitems belonging to URGENT orders. The bloom prefilter
    * runs BEFORE the exact semi-join: one 128 KiB filter over the
    * qualifying orderkeys, carried to the fact scan as a task-closure
    * constant (see [[graft.functions.Bloom.prefilter]]). At 100 TB the
    * semi-join's shuffle then carries only rows that can match (plus the
    * ~1% false-positive tail the exact join removes) instead of the whole
    * fact table.
    */
  def bloomSemiRevenue(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val pruned = Bloom.prefilter(
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"),
      col("l_orderkey"), urgent)
    pruned
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
             .as("revenue"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Decontamination: drop train documents (doc_id % 10 <> 0) whose exact
    * text hash appears in the eval blocklist (doc_id % 10 = 0), reported as
    * per-lang survivor stats. The bloom split sends filter-clean rows (the
    * overwhelming majority of a 100 TB corpus) straight to the output with
    * NO join; only probe hits pay for the exact anti-join that removes
    * false positives.
    */
  def bloomDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val blocklist = docs.filter(col("doc_id") % 10 === 0)
      .select(md5(col("text")).as("h"))
    val train = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("lang"), col("n_chars"), col("text"))
    Bloom.decontaminate(train, md5(col("text")), blocklist)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** Exact boilerplate-shingle detection with a CMS prefilter — the
    * frequency analog of the bloom patterns above. "Boilerplate" = a
    * 3-gram shingle appearing in >= 5 distinct documents (the C4-style
    * repeated-fragment signal a corpus-curation pipeline strips).
    *
    * Pass 1 builds ONE fixed-size mergeable sketch over the doc-distinct
    * shingle stream (map-side partials, sum-merged — no per-key state
    * anywhere). Pass 2 re-scans and keeps only shingles whose sketch
    * ESTIMATE reaches the threshold BEFORE the exact groupBy: CMS never
    * underestimates, so every true heavy hitter survives the prefilter,
    * and the exact recount + HAVING drops the overestimate tail — the
    * result is bit-identical to the plain groupBy + HAVING the oracle
    * states, while the exchange carries only candidate occurrences. At
    * 100 TB that is the difference between shuffling every shingle
    * occurrence (trillions of rows, mostly singletons) and shuffling the
    * thin candidate slice; width is sized so expected collision noise
    * (N/width per row, min over depth rows) stays below the threshold —
    * scale width with stream size, the sketch stays megabytes.
    *
    * The collected sketch (4 MiB at the 2^17 width floor) rides pass 2's
    * filter as `lit(sk)`, which `cms_query` carries as a
    * [[graft.functions.ConstBytes]] payload printed as its size and
    * digest. As a plain `Literal` its hex made one render of this query's
    * plan 33.5 M characters at sf0.01, and AQE re-renders the plan after
    * every stage.
    */
  def cmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val t = 5L
    // cost-based plan choice, MEASURED not guessed (the ANALYZE-style
    // stats pass): one cheap (count, approx-distinct) aggregate gives the
    // mean occurrences per key. When it clears the threshold the key
    // space is heavy-dominated (this fixture's sf0.1/10x corpora: ~95% of
    // occurrence mass is in truly-heavy keys) — no prefilter can prune
    // that, so go STRAIGHT to the exact groupBy and never build a sketch.
    // When keys are mostly rare (Zipf corpora at 100 TB: singletons
    // dominate; sf0.01 here), the sketch prefilter drops non-candidate
    // occurrences map-side and the exchange carries only the thin
    // candidate slice. BOTH paths are exact (CMS has no false negatives;
    // the recount re-verifies), so the choice never changes an output
    // row — only where the shuffle bytes go.
    // ONE materialization serves the stats pass AND whichever plan it
    // picks: the stream explodes off the checkpointed
    // DedupQueries.shingleFrame, so tokenize + shingle never re-runs on
    // either path. Its rows are doc-distinct shingle OCCURRENCES — the
    // same rows every consumer needs — from the SAME
    // tokenize+ngramShingles construction the whole shingle family
    // shares (the round-8 verdict measured this query rebuilding that
    // stream as 3.4× its comparator).
    val sh = DedupQueries.shingleFrame(s, d).select(explode(col("sh")).as("shingle"))
    val stats = sh
      .agg(count(lit(1)).as("n"),
           approx_count_distinct(col("shingle"), 0.05).as("d")).head()
    val (n, dist) = (stats.getLong(0), math.max(stats.getLong(1), 1L))
    if (n / dist >= t) {
      sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") >= t)
        .orderBy(desc("df"), col("shingle"))
    } else {
      // prefilter path: width scales with the stream (collision noise
      // ~n/width per row must stay below t) — memory growth that is
      // inherent to exact heavy hitters at a FIXED absolute threshold; a
      // production pipeline would raise t with scale instead. Correctness
      // never depends on width, only the candidate-slice size does.
      val sk = sh.agg(Cms.sketch(col("shingle"), 4, heavyWidth(n)).as("sk"))
        .head().getAs[Array[Byte]]("sk")
      sh.filter(Cms.query(lit(sk), col("shingle")) >= t)
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") >= t)
        .orderBy(desc("df"), col("shingle"))
    }
  }

  /** Sketch width for a stream of `n` rows: next power of two >= n/4
    * (expected collision noise ~< 1 after the min over depth rows),
    * floored at 2^17 and capped at 2^22 (a 128 MiB sketch at depth 4) —
    * past that cap (n ≈ 16M+ rows) the fixed-t contract should flip to a
    * relative threshold instead of growing the sketch further; see the
    * width discussion in [[cmsHeavyHitters]].
    */
  private[graft] def heavyWidth(n: Long): Int = {
    val target = math.min(math.max(1L << 17, n / 4), 1L << 22).toInt
    java.lang.Integer.highestOneBit(target - 1) << 1
  }

  /** KMV sketch size for the per-type user-day distinct estimate. */
  private val KmvK = 128

  /** KMV sketch size for the pairwise audience-overlap estimates. */
  private val KmvOverlapK = 64

  /** Rolling-window distinct users served from STORED DAILY SKETCHES —
    * the pre-aggregation pattern that answers any window without ever
    * rescanning the events: one pass builds a [[KmvK]]-slot KMV sketch
    * per day (the 1 KiB/day state a deployment keeps), and each day's
    * trailing-3-day unique-user count is the estimate of the UNION of
    * its window's daily sketches. Mergeability is exact, not
    * approximate-on-approximate: the K smallest distinct hashes of a
    * window are each among the K smallest of their own day, so the
    * union-of-daily-sketches IS the sketch of the window — the oracle
    * replays precisely that truncation algebra (bottom-K per day, then
    * bottom-K of the window union) next to the exact windowed distinct.
    * The day-grid join touches only the days relation (tens of rows);
    * the corpus is scanned once.
    */
  def kmvRolling(s: SparkSession, d: String): DataFrame = {
    // NOTE (r13): a spread-before-hash + hash-distributed checkpoint was
    // tried here and REVERTED on measurement (1.19 → 1.59 s A/B at equal
    // box state): the day-grain consumers are tiny, so the extra exchange
    // + wider checkpoint cost more than the 1-task hash pass they fixed.
    val h = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"),
        graft.operators.Sampling.hash60(col("user_id"), "kmvr").as("hv"))
      .distinct()
      .transform(Materialize.frame)
    val daily = h.groupBy("day")
      .agg(graft.functions.Kmv.sketch(col("hv"), KmvK).as("sk"))
    val days = daily.select(col("day").as("d0"))
    val win = days.join(daily,
        col("day").between(date_sub(col("d0"), 2), col("d0")))
      .groupBy("d0")
      .agg(count(lit(1)).as("n_days"),
        graft.functions.Kmv.estimate(
          graft.functions.Kmv.union(col("sk"), KmvK), KmvK).as("est_users"))
    val exact = days.join(h,
        col("day").between(date_sub(col("d0"), 2), col("d0")))
      .groupBy("d0").agg(countDistinct("hv").as("exact_users"))
    win.join(exact, Seq("d0"))
      .select(date_format(col("d0"), "yyyy-MM-dd").as("day"),
        col("n_days"), col("est_users"), col("exact_users"))
      .orderBy("day")
  }

  /** Per-event-type distinct user-day estimate from a K-minimum-values
    * sketch, next to the exact count — the error measurement a deployment
    * sizes K with. Unlike HLL (engine-tested, register arithmetic has no
    * SQL twin), the KMV estimate is bottom-K + one integer division, so
    * the WHOLE path sits under the hash-match oracle. The input stream is
    * pre-hashed with the repo-standard portable md5 60-bit hash; the
    * sketch itself aggregates longs and is mergeable (partials per
    * partition, 8·K bytes each, shuffle carries sketches not user-days).
    */
  def kmvUsers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val key = concat_ws(":", col("user_id").cast("string"),
      to_date(col("ts")).cast("string"))
    val hv = graft.operators.Sampling.hash60(key, "kmv")
    ev.select(col("event_type"), hv.as("hv"))
      .groupBy("event_type")
      .agg(
        graft.functions.Kmv.estimate(
          graft.functions.Kmv.sketch(col("hv"), KmvK), KmvK).as("est_user_days"),
        countDistinct(col("hv")).as("exact_user_days"))
      .orderBy("event_type")
  }

  /** Pairwise audience overlap between event types from per-type KMV
    * sketches: the K smallest of A ∪ B are a uniform bottom-K sample of
    * the union, so the fraction present in both sketches estimates the
    * Jaccard and scales the union estimate into |A ∩ B|. This is the
    * query shape distinct COUNTS cannot answer: 5 stored sketches (≤512 B
    * each) answer all 10 pairwise overlaps with no re-scan and no
    * quadratic user-level self-join — at 100 TB, sketch once per
    * segment/day, intersect any two segments later, exactly like the HLL
    * union story but with set intersection in the algebra. Exact
    * pair-level counts ride along from the (tiny) distinct user-type
    * frame so the oracle pins both paths.
    */
  def kmvOverlap(s: SparkSession, d: String): DataFrame = {
    val k = KmvOverlapK
    val ev = Tables.events(s, d)
    val hv = graft.operators.Sampling.hash60(col("user_id"), "kmvo")
    val sk = ev.select(col("event_type"), hv.as("hv"))
      .groupBy("event_type")
      .agg(graft.functions.Kmv.sketch(col("hv"), k).as("sk"),
           countDistinct(col("hv")).as("nd"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
      col("nd").as("nd_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
      col("nd").as("nd_b"))
    // exact pairwise intersection from the distinct (type, user-hash)
    // frame — 5 types × ≤|users| rows, a dim-sized self-join
    val eu = ev.select(col("event_type"), hv.as("hv")).distinct()
    val exact = eu.as("x").join(eu.as("y"),
        col("x.hv") === col("y.hv") && col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("exact_inter"))
    a.join(b, col("type_a") < col("type_b"))
      .join(exact, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        graft.functions.Kmv.unionEst(col("sk_a"), col("sk_b"), k).as("est_union"),
        graft.functions.Kmv.interEst(col("sk_a"), col("sk_b"), k).as("est_inter"),
        (col("nd_a") + col("nd_b") - coalesce(col("exact_inter"), lit(0L)))
          .as("exact_union"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
      .orderBy("type_a", "type_b")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bloom_semi_revenue" -> (bloomSemiRevenue _),
    "bloom_decontam" -> (bloomDecontam _),
    "cms_heavy_hitters" -> (cmsHeavyHitters _),
    "sketch_kmv_users" -> (kmvUsers _),
    "sketch_kmv_overlap" -> (kmvOverlap _),
    "sketch_kmv_rolling" -> (kmvRolling _),
  )

  val oracle: Map[String, String] = Map(
    "bloom_semi_revenue" ->
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "bloom_decontam" ->
      """WITH ev AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 = 0)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d
        |WHERE d.doc_id % 10 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM ev WHERE ev.h = md5(d.text))
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "cms_heavy_hitters" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 2, 0) + 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM t)
        |SELECT shingle, CAST(count(*) AS BIGINT) AS df
        |FROM g GROUP BY shingle HAVING count(*) >= 5
        |ORDER BY df DESC, shingle""".stripMargin,
    // the KMV sketch restated as plain SQL: bottom-K distinct hashes per
    // group (row_number <= K), theta = the Kth, estimate = one HUGEINT
    // floor division — the same integer arithmetic KmvOps runs on BigInt
    "sketch_kmv_users" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    CAST('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)
         |      || ':' || CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 15) AS BIGINT) AS hv
         |  FROM events),
         |r AS (SELECT event_type, hv,
         |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS nd
         |      FROM h),
         |agg AS (SELECT event_type, CAST(min(nd) AS BIGINT) AS nd,
         |          max(CASE WHEN rn <= $KmvK THEN hv END) AS theta
         |        FROM r GROUP BY event_type)
         |SELECT event_type,
         |  CASE WHEN nd < $KmvK THEN nd
         |       ELSE CAST((CAST(${KmvK - 1} AS HUGEINT)
         |            * CAST(${KmvOps.HashSpace} AS HUGEINT))
         |            // CAST(theta AS HUGEINT) AS BIGINT) END AS est_user_days,
         |  nd AS exact_user_days
         |FROM agg ORDER BY event_type""".stripMargin,
    "sketch_kmv_rolling" ->
      s"""WITH h AS (
         |  SELECT DISTINCT CAST(ts AS DATE) AS day,
         |    CAST('0x' || substring(md5('kmvr:' || CAST(user_id AS VARCHAR)),
         |      1, 15) AS BIGINT) AS hv
         |  FROM events),
         |dk AS (
         |  SELECT day, hv FROM (
         |    SELECT day, hv, row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
         |    FROM h) t WHERE rn <= $KmvK),
         |days AS (SELECT DISTINCT day AS d0 FROM h),
         |wd AS (
         |  SELECT DISTINCT d.d0, dk.hv
         |  FROM days d JOIN dk ON dk.day BETWEEN d.d0 - 2 AND d.d0),
         |nd AS (
         |  SELECT d.d0, CAST(count(DISTINCT dk.day) AS BIGINT) AS n_days
         |  FROM days d JOIN dk ON dk.day BETWEEN d.d0 - 2 AND d.d0
         |  GROUP BY d.d0),
         |ur AS (
         |  SELECT d0, hv, row_number() OVER (PARTITION BY d0 ORDER BY hv) AS rn,
         |         count(*) OVER (PARTITION BY d0) AS nu
         |  FROM wd),
         |agg AS (
         |  SELECT d0, CAST(min(nu) AS BIGINT) AS nu,
         |         max(CASE WHEN rn <= $KmvK THEN hv END) AS theta
         |  FROM ur GROUP BY d0),
         |ex AS (
         |  SELECT d.d0, CAST(count(DISTINCT h.hv) AS BIGINT) AS exact_users
         |  FROM days d JOIN h ON h.day BETWEEN d.d0 - 2 AND d.d0
         |  GROUP BY d.d0)
         |SELECT strftime(agg.d0, '%Y-%m-%d') AS day, nd.n_days,
         |  CASE WHEN agg.nu < $KmvK THEN agg.nu
         |       ELSE CAST((CAST(${KmvK - 1} AS HUGEINT)
         |            * CAST(${KmvOps.HashSpace} AS HUGEINT))
         |            // CAST(agg.theta AS HUGEINT) AS BIGINT) END AS est_users,
         |  ex.exact_users
         |FROM agg JOIN nd ON agg.d0 = nd.d0 JOIN ex ON agg.d0 = ex.d0
         |ORDER BY day""".stripMargin,
    "sketch_kmv_overlap" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type AS t,
         |    CAST('0x' || substring(md5('kmvo:' || CAST(user_id AS VARCHAR)),
         |      1, 15) AS BIGINT) AS hv
         |  FROM events),
         |r AS (SELECT t, hv, row_number() OVER (PARTITION BY t ORDER BY hv) AS rn,
         |        count(*) OVER (PARTITION BY t) AS nd
         |      FROM h),
         |km AS (SELECT t, hv FROM r WHERE rn <= $KmvOverlapK),
         |nd AS (SELECT t, CAST(max(nd) AS BIGINT) AS nd FROM r GROUP BY t),
         |ty AS (SELECT DISTINCT t FROM h),
         |pr AS (SELECT a.t AS ta, b.t AS tb FROM ty a JOIN ty b ON a.t < b.t),
         |u AS (SELECT pr.ta, pr.tb, km.hv FROM pr JOIN km ON km.t = pr.ta
         |      UNION
         |      SELECT pr.ta, pr.tb, km.hv FROM pr JOIN km ON km.t = pr.tb),
         |ur AS (SELECT ta, tb, hv,
         |         row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
         |       FROM u),
         |uk AS (SELECT ta, tb, hv FROM ur WHERE rn <= $KmvOverlapK),
         |ua AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_u, max(hv) AS theta
         |       FROM uk GROUP BY ta, tb),
         |cc AS (SELECT uk.ta, uk.tb, CAST(count(*) AS BIGINT) AS c
         |       FROM uk
         |       WHERE EXISTS (SELECT 1 FROM km
         |                     WHERE km.t = uk.ta AND km.hv = uk.hv)
         |         AND EXISTS (SELECT 1 FROM km
         |                     WHERE km.t = uk.tb AND km.hv = uk.hv)
         |       GROUP BY uk.ta, uk.tb),
         |ei AS (SELECT x.t AS ta, y.t AS tb, CAST(count(*) AS BIGINT) AS exact_inter
         |       FROM h x JOIN h y ON x.hv = y.hv AND x.t < y.t
         |       GROUP BY x.t, y.t),
         |eu AS (SELECT ua.ta, ua.tb,
         |         CASE WHEN ua.n_u < $KmvOverlapK THEN ua.n_u
         |              ELSE CAST((CAST(${KmvOverlapK - 1} AS HUGEINT)
         |                   * CAST(${KmvOps.HashSpace} AS HUGEINT))
         |                   // CAST(ua.theta AS HUGEINT) AS BIGINT) END AS est_union,
         |         coalesce(cc.c, CAST(0 AS BIGINT)) AS c, ua.n_u
         |       FROM ua LEFT JOIN cc ON ua.ta = cc.ta AND ua.tb = cc.tb)
         |SELECT pr.ta AS type_a, pr.tb AS type_b,
         |  eu.est_union,
         |  (eu.c * eu.est_union) // eu.n_u AS est_inter,
         |  na.nd + nb.nd - coalesce(ei.exact_inter, CAST(0 AS BIGINT)) AS exact_union,
         |  coalesce(ei.exact_inter, CAST(0 AS BIGINT)) AS exact_inter
         |FROM pr
         |JOIN eu ON pr.ta = eu.ta AND pr.tb = eu.tb
         |JOIN nd na ON na.t = pr.ta
         |JOIN nd nb ON nb.t = pr.tb
         |LEFT JOIN ei ON ei.ta = pr.ta AND ei.tb = pr.tb
         |ORDER BY type_a, type_b""".stripMargin,
  )
}
