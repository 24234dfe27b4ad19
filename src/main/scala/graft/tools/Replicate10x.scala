package graft.tools

import graft.{Sessions, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-table N× replica of an sf dir — the input for the FULL-SUITE 10×
  * bench (`Bench` pointed at the output dir), extending the ScaleSmoke
  * replication (documents only) to every table so all 168 queries can be
  * timed at 10× and checked for superlinear surprises, not just the heavy
  * dedup/graph families the smoke pins.
  *
  * Replication keeps each query's STRUCTURE honest at N×:
  *  - `documents` use the ScaleSmoke disjoint-vocabulary replicas (near-dup
  *    density scales linearly, no quadratic exact-dup cliques);
  *  - every entity key (doc/vec/order/cust/part/supp/event/user id) shifts
  *    by the SAME per-replica offset, so FK joins and the doc↔embedding id
  *    correspondence stay within-replica and join output scales linearly;
  *  - embedding vectors get a small per-replica rotation of one coordinate
  *    (deterministic) so replicas are not exact vector duplicates — ANN
  *    candidate structure stays ~linear instead of every probe drowning in
  *    N identical twins;
  *  - `nation`/`region` stay single-copy (genuinely small shared dims —
  *    replicating a dimension nothing keys into per-replica would break
  *    FK integrity, and at 100 TB these ARE broadcast dims).
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_REPL_COPIES=10
  *      SPARK_GRAFT_REPL_OUT=/tmp/graft-10x sbt "runMain graft.tools.Replicate10x"
  */
object Replicate10x {

  val Offset: Long = ScaleSmoke.Offset // one id space for docs/vecs/keys

  private def shifted(df: DataFrame, copies: Int, idCols: Seq[String],
                      extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until copies).map { i =>
      val base = idCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(i * Offset)))
      extra(base, i)
    }.reduce(_ unionByName _)

  def build(spark: SparkSession, base: String, out: String, copies: Int): Unit = {
    def write(df: DataFrame, t: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$t.parquet")

    write(ScaleSmoke.replicate(Tables.documents(spark, base), copies), "documents")
    // embeddings: id shift + a per-replica nudge of coordinate 0 (±0.01·i)
    // so replicas are near but not identical in vector space
    write(shifted(spark.read.parquet(s"$base/embeddings.parquet"), copies,
      Seq("vec_id"),
      (d, i) => d.withColumn("embedding",
        concat(array((element_at(col("embedding"), 1) + lit(0.01f * i))
                 .cast("float")),
               slice(col("embedding"), 2, 1000000)))), "embeddings")
    write(shifted(spark.read.parquet(s"$base/events.parquet"), copies,
      Seq("event_id", "user_id")), "events")
    write(shifted(spark.read.parquet(s"$base/lineitem.parquet"), copies,
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(shifted(spark.read.parquet(s"$base/orders.parquet"), copies,
      Seq("o_orderkey", "o_custkey")), "orders")
    write(shifted(spark.read.parquet(s"$base/customer.parquet"), copies,
      Seq("c_custkey")), "customer")
    write(shifted(spark.read.parquet(s"$base/supplier.parquet"), copies,
      Seq("s_suppkey")), "supplier")
    write(shifted(spark.read.parquet(s"$base/part.parquet"), copies,
      Seq("p_partkey")), "part")
    spark.read.parquet(s"$base/nation.parquet")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")
    spark.read.parquet(s"$base/region.parquet")
      .write.mode("overwrite").parquet(s"$out/region.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_REPL_OUT", "/tmp/graft-10x")
    val copies = sys.env.getOrElse("SPARK_GRAFT_REPL_COPIES", "10").toInt
    val spark = Sessions.local("graft-replicate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, base, out, copies)
    println(s"""{"metric":"replicate","out":"$out","copies":$copies}""")
    spark.stop()
  }
}
