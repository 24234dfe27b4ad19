package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session("graft-test")

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Jobs `f` submits, AQE stage and broadcast jobs included (they
    * inherit the calling thread's job group). A marker job submitted after
    * `f` flushes the listener bus, which delivers events in order.
    */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-of-${java.util.UUID.randomUUID()}"
    val marker = s"$group-flush"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs of")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}

/** THE test-session construction — every suite and property object must go
  * through this: all suites share one per-JVM session, so a divergent
  * builder anywhere rewrites session conf for whoever initializes second.
  */
object SparkSpec {
  def session(appName: String): SparkSession =
    Sessions.withGraftConf(SparkSession.builder()
      .master("local[4]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
}
