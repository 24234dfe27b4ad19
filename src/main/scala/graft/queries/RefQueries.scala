package graft.queries

import graft.Tables
import graft.operators.ReferenceOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** R-series: the reference pipeline's operator chains (SURVEY.md §2a/§2c)
  * transplanted onto the driver testdata. Each query carries an equivalent
  * DuckDB oracle (column names, types and total ORDER BY aligned for the
  * driver's hash compare).
  */
object RefQueries {

  /** R1 — unpivot + IN-list filter (ref melt :53 + isin :54). The
    * PruneExpandBranches rule drops the two filtered-out measures from the
    * Expand so only half the rows materialize and the scan prunes their
    * columns.
    */
  def r1(s: SparkSession, d: String): DataFrame = {
    melt(Tables.lineitem(s, d),
         Seq("l_orderkey", "l_linenumber"),
         Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
         "measure", "value")
      .filter(col("measure").isin("l_quantity", "l_discount"))
      .orderBy("l_orderkey", "l_linenumber", "measure", "value")
  }

  /** R2 — literal columns + rename + projection + IN filter (ref :54-64). */
  def r2(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_orderkey").as("okey"), col("o_custkey").as("cust"),
              col("o_orderpriority").as("prio"),
              lit("2024-01-01").as("week_start"), lit("2024-01-07").as("week_end"))
      .orderBy("okey")

  /** R3 — groupby-countDistinct + HAVING + semi-join cohort (ref :76-85). */
  def r3(s: SparkSession, d: String): DataFrame =
    cohortFilter(Tables.customer(s, d),
                 groupCols = Seq("c_nationkey", "c_mktsegment"),
                 distinctExpr = col("c_custkey") % 7,
                 threshold = 5, keyCol = "c_nationkey")
      .select("c_custkey", "c_nationkey")
      .orderBy("c_custkey", "c_nationkey")

  /** R4 — CASE sort key + partitioned row_number ranking (ref :100-110). */
  def r4(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d)
      .filter(col("l_linenumber") === 1)
      .withColumn("sort_priority", when(col("l_returnflag") === "R", 0).otherwise(1))
    rankWithin(base, Seq("l_suppkey"),
               Seq(desc("l_extendedprice"), desc("sort_priority"), asc("l_orderkey")))
      .select(col("l_suppkey"), col("l_orderkey"),
              round(col("l_extendedprice"), 2).as("price"), col("ranking"))
      .orderBy("l_suppkey", "ranking")
  }

  /** R5 — the full 5-stage reference DAG as one lazy plan:
    * unpivot → cohort filter (keep orderkeys whose measures do NOT all share
    * one value) → ranking per orderkey (ref :196 chain).
    *
    * The cohort predicate is computed with a windowed `collect_set` size
    * over the same partition the ranking window uses, instead of the
    * aggregate + semi-join form (which is kept as the declared O9–O11
    * operator in r3): one shuffle on l_orderkey serves the filter AND the
    * ranking, and the unpivot subtree is evaluated once instead of twice.
    * Output is identical (hash-verified).
    */
  def r5(s: SparkSession, d: String): DataFrame = {
    val unpiv = melt(Tables.lineitem(s, d),
                     Seq("l_orderkey", "l_linenumber"),
                     Seq("l_quantity", "l_discount"), "measure", "value")
    val byKey = Window.partitionBy("l_orderkey")
    val filtered = unpiv
      .withColumn("__nv", size(collect_set("value").over(byKey)))
      .filter(col("__nv") >= 2)
      .drop("__nv")
    rankWithin(filtered, Seq("l_orderkey"),
               Seq(desc("value"), asc("measure"), asc("l_linenumber")))
      .select("l_orderkey", "l_linenumber", "measure", "value", "ranking")
      .orderBy("l_orderkey", "ranking")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r1_unpivot_filter" -> (r1 _),
    "r2_project_literals" -> (r2 _),
    "r3_cohort_semijoin" -> (r3 _),
    "r4_case_ranking" -> (r4 _),
    "r5_full_pipeline" -> (r5 _),
  )

  val oracle: Map[String, String] = Map(
    "r1_unpivot_filter" ->
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS value FROM lineitem
        |) u ORDER BY l_orderkey, l_linenumber, measure, value""".stripMargin,
    "r2_project_literals" ->
      """SELECT o_orderkey AS okey, o_custkey AS cust, o_orderpriority AS prio,
        |       '2024-01-01' AS week_start, '2024-01-07' AS week_end
        |FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH') ORDER BY okey""".stripMargin,
    "r3_cohort_semijoin" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE c_nationkey IN (
        |  SELECT c_nationkey FROM customer GROUP BY c_nationkey, c_mktsegment
        |  HAVING count(DISTINCT c_custkey % 7) < 5)
        |ORDER BY c_custkey, c_nationkey""".stripMargin,
    "r4_case_ranking" ->
      """SELECT l_suppkey, l_orderkey, round(l_extendedprice, 2) AS price,
        |  CAST(row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY l_extendedprice DESC,
        |             (CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) DESC,
        |             l_orderkey ASC) AS INTEGER) AS ranking
        |FROM lineitem WHERE l_linenumber = 1
        |ORDER BY l_suppkey, ranking""".stripMargin,
    "r5_full_pipeline" ->
      """WITH u AS (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS value FROM lineitem
        |)
        |SELECT l_orderkey, l_linenumber, measure, value,
        |  CAST(row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY value DESC, measure ASC, l_linenumber ASC) AS INTEGER) AS ranking
        |FROM u
        |WHERE l_orderkey IN (
        |  SELECT l_orderkey FROM u GROUP BY l_orderkey HAVING count(DISTINCT value) >= 2)
        |ORDER BY l_orderkey, ranking""".stripMargin,
  )
}
