package graft.tools

import graft.{Sessions, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** Full-suite benchmark on a REAL multi-process cluster — the round-12
  * answer to the standing critique that every recorded number is one-JVM
  * `local[32]`, where a "shuffle" is an in-process memcpy, broadcasts are
  * free, and task results never cross a process boundary. This main runs
  * every `SparkEntry` query on `local-cluster[4,8,8192]` (4 standalone
  * workers, each forking a separate 8-core/8 GiB executor JVM — the
  * ChaosSpec plumbing, scaled up): all shuffle and broadcast traffic pays
  * real serialization + netty transport + disk, which is the cost shape a
  * 1000-executor deployment sees.
  *
  * Adjudication is built in: the artifact embeds, per query, the ratio of
  * the cluster wall to the committed local[32] qmin
  * (`SPARK_GRAFT_LOCAL_JSON`, default the round's quiet bench), plus the
  * cluster's OWN empty-job floor and per-query job counts, so
  * `ratio_floor_adj` separates "pays real serialization" from "pays N
  * more job-submission floors" — on local-cluster the scheduling floor is
  * several times local[32]'s, and a fixed-cost query's raw ratio is all
  * floor. A query is flagged (`flagged` list) when its floor-adjusted
  * cluster time exceeds `SPARK_GRAFT_CLUSTER_FLAG_RATIO` (default 3)
  * × its local qmin — the threshold the round-12 brief set.
  *
  * Run: SPARK_DRIVER_MEM=8g sbt "runMain graft.tools.BenchCluster"
  * (≈15-25 min: untimed warmup pass + 1 timed rep). Writes
  * BENCH_cluster.json (override with --out or SPARK_GRAFT_BENCH_OUT).
  */
object BenchCluster {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val master = sys.env.getOrElse("SPARK_GRAFT_CLUSTER", "local-cluster[4,8,8192]")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt.max(1)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val spark = Sessions.withGraftConf(SparkSession.builder()
        .master(master)
        .appName("graft-bench-cluster")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        // forked executor JVMs need the run classpath and the JDK17 opens
        // (spark-submit normally injects both); the GCLocker retry budget
        // matches build.sbt's driver-side workaround
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          addOpens + " -XX:+UnlockDiagnosticVMOptions" +
            " -XX:GCLockerRetryAllocationCount=64")
        .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val expectExec = "local-cluster\\[(\\d+),".r.findFirstMatchIn(master)
      .map(_.group(1).toInt).getOrElse(1)
    // wait for every executor before warmup so timings never include
    // executor registration
    val deadline = System.nanoTime() + 180e9.toLong
    while (spark.sparkContext.getExecutorMemoryStatus.size < expectExec + 1) {
      require(System.nanoTime() < deadline, "executors did not register in 180s")
      Thread.sleep(200)
    }

    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      try Tables.table(spark, sfDir, t).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench-cluster] warmup $t failed: ${e.getMessage}") }
    }
    try Tables.events(spark, sfDir).count()
    catch { case e: Throwable =>
      System.err.println(s"[bench-cluster] warmup events failed: ${e.getMessage}") }
    try graft.queries.DedupQueries.warmupStoredState(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench-cluster] warmup state failed: ${e.getMessage}") }

    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    // untimed pass: codegen + broadcast/shuffle file creation + the
    // memoized index/state builds (steady-state timing, like Bench)
    names.foreach { case (name, fn) =>
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench-cluster] warmup $name failed: ${e.getMessage}") }
    }

    val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = js.properties.getProperty("spark.jobGroup.id")
        if (g != null && g.startsWith("graft:"))
          jobsByGroup.computeIfAbsent(g,
            _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
      }
    })
    // the CLUSTER's own empty-job floor: 32 no-op tasks across the
    // executor processes, median of 7
    val floorSec = {
      val xs = (1 to 7).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0L, 32L, 1L, 32).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      xs(xs.size / 2)
    }

    val samples: Seq[Seq[(String, Double)]] = (1 to reps).map { _ =>
      names.map { case (name, fn) =>
        spark.sparkContext.setJobGroup(s"graft:$name", name,
          interruptOnCancel = false)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench-cluster] $name failed: ${e.getMessage}")
                   false }
                 finally spark.sparkContext.clearJobGroup()
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val perQuery = names.map { case (name, _) =>
      val xs = samples.map(_.find(_._1 == name).get._2)
      if (xs.exists(_ < 0)) (name, -1.0) else (name, median(xs))
    }
    val jobsPerQuery: Map[String, Double] = names.map { case (name, _) =>
      name -> Option(jobsByGroup.get(s"graft:$name")).map(_.get).getOrElse(0L)
        .toDouble / reps
    }.toMap

    // local[32] reference: per-query qmin from the committed quiet bench
    val localPath = sys.env.getOrElse("SPARK_GRAFT_LOCAL_JSON",
      "BENCH_quiet_r11.json")
    val localQmin: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(localPath)), "UTF-8")
        val qminBlock = txt.split("\"qmin\":\\{", 2)
        if (qminBlock.length < 2) Map.empty
        else """"([A-Za-z0-9_]+)":([0-9.eE+-]+)""".r
          .findAllMatchIn(qminBlock(1).split("\\}", 2)(0))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }

    val flagRatio = sys.env.getOrElse("SPARK_GRAFT_CLUSTER_FLAG_RATIO", "3.0").toDouble
    val ratios = perQuery.collect { case (n, c) if c >= 0 && localQmin.get(n).exists(_ > 0) =>
      val l = localQmin(n)
      val adj = math.max(0.0, c - jobsPerQuery.getOrElse(n, 0.0) * floorSec)
      (n, c / l, adj / l)
    }
    val flagged = ratios.collect { case (n, _, adj) if adj > flagRatio => n }

    def jmap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + (math.rint(v * 1000) / 1000) }
        .mkString("{", ",", "}")
    val total = perQuery.map(_._2).filter(_ >= 0).sum
    val localTotal = perQuery.collect {
      case (n, c) if c >= 0 && localQmin.contains(n) => localQmin(n) }.sum
    val json =
      s"""{"metric":"cluster_total","value":${math.rint(total * 100) / 100},"unit":"sec","master":"$master","reps":$reps,""" +
      s""""floor_sec":${math.rint(floorSec * 10000) / 10000},"local_json":"$localPath","local_qmin_total":${math.rint(localTotal * 100) / 100},""" +
      s""""flag_ratio":$flagRatio,"flagged":[${flagged.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""queries":${jmap(perQuery)},"jobs":${jmap(jobsPerQuery.toSeq.sortBy(_._1))},""" +
      s""""ratio":${jmap(ratios.map(t => (t._1, t._2)))},""" +
      s""""ratio_floor_adj":${jmap(ratios.map(t => (t._1, t._3)))},"sf":"$sfDir"}"""
    val outPath = args.sliding(2).collectFirst { case Array("--out", p) => p }
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse("BENCH_cluster.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    println(s"""{"metric":"cluster_total","value":${math.rint(total * 100) / 100},"local_qmin_total":${math.rint(localTotal * 100) / 100},"floor_sec":${math.rint(floorSec * 10000) / 10000},"n_flagged":${flagged.size},"flagged":[${flagged.take(20).map("\"" + _ + "\"").mkString(",")}],"full":"$outPath"}""")
    System.out.flush()
  }
}
