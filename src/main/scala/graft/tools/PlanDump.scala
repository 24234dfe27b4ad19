package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries into a directory — the
  * optimization-round evidence files (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Writes `<outDir>/<query>_<suffix>.txt` for each selected query. Runs on
  * the same session shape as Bench (local[$SPARK_GRAFT_CPUS], AQE on) so
  * the captured plan is the one the bench actually times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only = args.drop(3).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.withGraftConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_(kv._1)))
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          println(s"[plandump] $name ok (${txt.length} chars)")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
