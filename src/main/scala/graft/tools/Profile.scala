package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-job breakdown of one or more bench queries: runs each named query
  * exactly like Bench (same session shape, memos warmed the same way),
  * then prints every Spark job's wall time + task count + description so
  * the job-floor tax (guide §1: the empty-job floor is ~0.1-0.25 s on
  * this box, and sum(jobs x floor) was 119 s of BENCH_quiet_r11's 128.8 s
  * total) can be attributed to the exact blocking call that pays it.
  *
  * Usage: Profile <sfDir> q1,q2[,...]   (env: SPARK_GRAFT_CPUS)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.withGraftConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class J(id: Int, t0: Long, var t1: Long = 0L, var nTasks: Int = 0,
                 var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId, e.time)
        j.nTasks = e.stageInfos.map(_.numTasks).sum
        j.desc = e.stageInfos.map(si => s"${si.name.takeWhile(_ != '$').take(40)}#${si.numTasks}")
          .mkString("|")
        jobs.put(e.jobId, j); order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
      }
    })

    // warm exactly like Bench: tables + stored state + one untimed pass
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      try graft.Tables.table(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    try graft.Tables.events(spark, sfDir).count() catch { case _: Throwable => () }
    try graft.queries.DedupQueries.warmupStoredState(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[profile] warmup state: ${e.getMessage}") }
    val qmap = graft.SparkEntry.queries
    names.foreach { n => try qmap(n)(spark, sfDir).count() catch { case _: Throwable => () } }

    names.foreach { n =>
      jobs.clear(); order.clear()
      spark.sparkContext.setJobDescription(s"PROFILE:$n")
      val t0 = System.nanoTime()
      qmap(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      println(f"%n=== $n wall=$wall%.3f s jobs=${jobs.size} ===")
      import scala.jdk.CollectionConverters._
      var tPrev = 0L
      order.asScala.toSeq.sorted.foreach { id =>
        val j = jobs.get(id)
        val dur = (j.t1 - j.t0) / 1000.0
        val gap = if (tPrev == 0) 0.0 else (j.t0 - tPrev) / 1000.0
        tPrev = math.max(tPrev, j.t1)
        println(f"  job ${j.id}%4d ${dur}%7.3f s gap=${gap}%6.3f tasks=${j.nTasks}%4d ${j.desc.take(110)}")
      }
    }
    spark.stop()
  }
}
