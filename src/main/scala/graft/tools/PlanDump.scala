package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries into a directory — the
  * optimization-round evidence files (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Writes `<outDir>/<query>_<suffix>.txt` for each selected query. Runs on
  * the same session shape as Bench ([[graft.Sessions.local]]) so
  * the captured plan is the one the bench actually times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only = args.drop(3).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.Sessions.local("graft-plan-dump").getOrCreate()
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
