package graft

import java.util.concurrent.ConcurrentHashMap
import graft.queries.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Table loaders for the driver testdata (`TESTDATA.md`, schemas in
  * `FIXTURES.md`). Parquet footers carry the authoritative schema, so no
  * inference happens; loaders only normalize physical quirks (the `events.ts`
  * nanosecond column) so query code sees one stable logical schema.
  *
  * Each table is resolved once per session and input content. A
  * `spark.read.parquet` lists the path and merges the footer schema in a
  * Spark job of its own, even for a one-file table, and the ~200 loader
  * calls of a query pass paid it per call. The resolved relation (the
  * `HadoopFsRelation`: file index and schema) is kept in the memo entry
  * `tables`, keyed like every [[Memo]] entry on (session, dir, the dir's
  * content fingerprint, checkpoint posture), so a file rewritten under
  * `dir` re-resolves on the next call. A failed read (a missing table)
  * throws Spark's own `AnalysisException` and caches nothing.
  *
  * Every call returns a new `LogicalRelation` over the kept relation
  * (`baseRelationToDataFrame`), with fresh attribute ids: two reads of one
  * table in one query are distinct Datasets, so they self-join and pass
  * Spark's ambiguous-self-join guard exactly as two separate reads did.
  *
  * At 100 TB these would be partitioned table scans; every query in this
  * library projects/filters early so Catalyst pushes pruning into the scan.
  */
object Tables {
  private val relations = Memo.entry[ConcurrentHashMap[String, BaseRelation]]("tables")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val rel = relations(spark, dir)(new ConcurrentHashMap[String, BaseRelation]())
      .computeIfAbsent(name, _ =>
        spark.read.parquet(s"$dir/$name.parquet").queryExecution.analyzed
          .collectFirst { case lr: LogicalRelation => lr.relation }.get)
    spark.baseRelationToDataFrame(rel)
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.ts` normalized to a TimestampType µs column, whatever the
    * parquet carries:
    *  - timestamp[us] (the committed testdata at every scale; written
    *    without a zone, so Spark reads TIMESTAMP_NTZ) is cast in the UTC
    *    session zone, which keeps its µs value;
    *  - timestamp[ns], which Spark 4 rejects (PARQUET_TYPE_ILLEGAL) unless
    *    `spark.sql.legacy.parquet.nanosAsLong` is on, arrives as long
    *    nanos and is FLOOR-divided to µs: −1 ns is −1 µs, −1500 ns is
    *    −2 µs (`TablesSpec` pins both on a committed ns fixture).
    *
    * The flag must be set at session BUILD time (see [[Sessions.withGraftConf]],
    * used by Verify/Bench/the test harness): the scan consults it at
    * execution, so flipping it inside a loader would be a racy global side
    * effect on every other parquet read sharing the session.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    require(s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "events.parquet may carry timestamp[ns]: build the session with " +
        "Sessions.withGraftConf (sets spark.sql.legacy.parquet.nanosAsLong)")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // exact integer FLOOR division: col/1000 would promote to double
        // (256ns ulp at epoch-ns magnitude), and `div` alone truncates
        // toward zero, shifting pre-epoch timestamps up a microsecond
        df.withColumn("ts", timestamp_micros(
          expr("(ts div 1000) - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")))
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}
