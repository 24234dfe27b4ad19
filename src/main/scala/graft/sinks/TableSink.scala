package graft.sinks

import graft.operators.Materialize
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Write-path semantics of the reference sink (O17,
  * `/root/reference/dags/google_trends_to_bigquery.py:116-159`): probe for the
  * table, create with an explicit schema if absent, then schema-enforced
  * append — re-expressed on Spark's writer API.
  *
  * The reference's blind `WRITE_APPEND` duplicates rows when a run repeats;
  * [[overwriteWindow]] is the idempotent alternative (dynamic partition
  * overwrite on the window column), which is the mode a 100 TB deployment
  * should run — re-running a week replaces that week only, touching nothing
  * else.
  */
object TableSink {

  /** Bit-parity append (ref behavior): create-if-absent + append. */
  def append(df: DataFrame, path: String, partitionCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Append)
    partitionCol.fold(w)(c => w.partitionBy(c)).parquet(path)
  }

  /** Catalog-table variant with an existence probe (≡ ref `get_table` +
    * `create_table`, lines 131-145): `saveAsTable` in Append mode performs
    * exactly create-if-absent + schema-checked append.
    */
  def appendTable(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).format("parquet").saveAsTable(table)

  /** Idempotent re-run mode: overwrite only the partitions present in `df`
    * (dynamic partition overwrite), keyed on the window column.
    *
    * The overwrite mode is scoped to THIS writer via `.option(...)` — never
    * `spark.conf.set` — so a concurrent writer on the same session that
    * expects static overwrite semantics is not silently switched to dynamic.
    */
  def overwriteWindow(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)

  /** Compact one partition of an append table to `numFiles` files.
    *
    * Streaming/micro-batch appends accrete small files until scan task
    * counts (and NameNode/object-store metadata) dominate query cost — the
    * standard cure is periodic per-partition rewrite. Read ONLY the target
    * partition (partition pruning keeps this O(partition), not O(table)),
    * `repartition(numFiles)` for even output sizes, and rewrite that
    * partition alone via dynamic overwrite. Rows are bit-identical; only
    * file layout changes. Run it per closed window (e.g. yesterday's
    * partition) — never the live one a writer is appending to.
    */
  def compactWindow(spark: org.apache.spark.sql.SparkSession, path: String,
                    partitionCol: String, partitionValue: String,
                    numFiles: Int = 1): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    // Materialize.frame MATERIALIZES the partition (block store, or the
    // reliable checkpoint dir) before the overwrite: reading and overwriting one path in a single
    // lazy plan is rejected by Spark (and would be unsafe if it weren't)
    val part = spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col(partitionCol) === partitionValue)
      .transform(Materialize.frame)
    overwriteWindow(part.repartition(numFiles), path, partitionCol)
  }
}
