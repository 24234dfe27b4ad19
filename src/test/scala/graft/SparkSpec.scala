package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session("graft-test")

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Jobs `f` submits, AQE stage and broadcast jobs included (they
    * inherit the calling thread's job group), as the run ledger counts
    * them once its bus is flushed.
    */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-of-${java.util.UUID.randomUUID()}"
    val ledger = RunLedger.attach(sc)
    try {
      sc.setJobGroup(group, "jobs of")
      try f finally sc.clearJobGroup()
      ledger.flush()
      ledger.jobs(group).size
    } finally ledger.detach()
  }
}

/** THE test-session construction — every suite and property object must go
  * through this: all suites share one per-JVM session, so a divergent
  * builder anywhere rewrites session conf for whoever initializes second.
  */
object SparkSpec {
  def session(appName: String): SparkSession =
    Sessions.local(appName, 4).getOrCreate()
}
