package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Input tables resolve once per session and content ([[Tables]]): a warm
  * call starts no Spark job, each call still gets its own attribute ids,
  * a rewritten file re-resolves, a missing table keeps failing loudly, and
  * eviction of older dirs leaves later calls correct.
  */
class TablesSpec extends SparkSpec {

  /** A temp copy of the sf0.001 dir. */
  private def copyOf(prefix: String): String = {
    val src = Path.of(sf())
    val d = Files.createTempDirectory(prefix)
    Files.list(src).forEach(t => Files.copy(t, d.resolve(t.getFileName.toString)))
    d.toString
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.mkString("|"))

  test("a warm table call starts no Spark job") {
    Tables.orders(spark, sf())
    val jobs = jobsOf(Tables.orders(spark, sf()))
    // measured: 0 here, 1 when every call re-inferred the footer schema
    assert(jobs === 0, s"a warm Tables.orders call ran $jobs jobs")
  }

  test("two reads of one table get disjoint attribute ids and still self-join") {
    val (a, b) = (Tables.orders(spark, sf()), Tables.orders(spark, sf()))
    val ids = Seq(a, b).map(_.queryExecution.analyzed.output.map(_.exprId).toSet)
    assert(ids(0).nonEmpty && ids(0).intersect(ids(1)).isEmpty)
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, a("o_custkey") === b("o_custkey") && a("o_orderkey") < b("o_orderkey"))
        .select(a("o_orderkey"), b("o_orderkey"))
    // the reference: two independent reads, as every call was before
    val path = s"${sf()}/orders.parquet"
    val ref = rows(selfJoin(spark.read.parquet(path), spark.read.parquet(path)))
    assert(ref.nonEmpty)
    assert(rows(selfJoin(a, b)) === ref)
  }

  test("rewriting a table under the same dir re-resolves its rows and schema") {
    val d = copyOf("tables-rewrite")
    assert(Tables.documents(spark, d).count() === 500L)
    Tables.documents(spark, sf()).filter(col("doc_id") < 300)
      .withColumn("extra", lit(1))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val after = Tables.documents(spark, d)
    assert(after.columns.last === "extra")
    assert(after.count() === 300L)
  }

  test("a missing table throws naming its path, every time") {
    for (d <- Seq(sf(), "/nonexistent/graft-tables"); _ <- 1 to 2) {
      val e = intercept[AnalysisException](Tables.table(spark, d, "no_such_table"))
      assert(e.getMessage.contains(s"$d/no_such_table.parquet"), e.getMessage)
    }
  }

  test("events.ts keeps its normalization to microsecond timestamps") {
    val ev = Tables.events(spark, sf())
    assert(ev.schema("ts").dataType === TimestampType)
    val r = ev.agg(count(lit(1)), min(unix_micros(col("ts"))),
      max(unix_micros(col("ts"))), sum(unix_micros(col("ts")) % 1000003L)).head()
    // measured when every call read the parquet afresh
    assert(r === Row(1000L, 1704067798778549L, 1706657176220708L, 492011626L))
  }

  test("a timestamp[ns] events.ts floors to microseconds, pre-epoch too") {
    // src/test/resources/events_ns/events.parquet, written with pyarrow:
    //   ns = [-1500, -1, 0, 1, 999, 1000, 1704067798778549123]
    //   pq.write_table(pa.table({"event_id": pa.array(range(7), pa.int64()),
    //     "ts": pa.array(ns, pa.timestamp("ns"))}), "events.parquet")
    // The expected µs are DuckDB's floor of the same nanos,
    //   CAST(floor(CAST(ns AS DECIMAL(38,0)) / 1000) AS BIGINT),
    // which differs from truncation (DuckDB 1.0's own ns parquet read:
    // -1 and 0 for the first two rows) only before the epoch.
    val dir = java.nio.file.Paths.get(
      getClass.getResource("/events_ns/events.parquet").toURI).getParent.toString
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    val micros = ev.orderBy("event_id").select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq
    assert(micros === Seq(-2L, -1L, 0L, 0L, 0L, 1L, 1704067798778549L))
  }

  test("calls past the eviction of older dirs still read each dir's content") {
    val (dirs, expected) = (1 to 5).map { i =>
      val d = copyOf(s"tables-evict-$i")
      val subset = Tables.orders(spark, sf()).filter(col("o_orderkey") % 5 < i)
      subset.write.mode("overwrite").parquet(s"$d/orders.parquet")
      (d, subset.count())
    }.unzip
    assert(expected.distinct.length === 5)
    for (_ <- 1 to 2)
      assert(dirs.map(d => Tables.orders(spark, d).count()) === expected)
  }
}
