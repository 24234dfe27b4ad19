package graft

import org.apache.spark.sql.functions._

/** [[RunLedger]] is the one listener every measurement reads: its job
  * counts back the `jobsOf` pins, its straggler ratio backs ScaleSmoke's
  * skew pins, and its JSON is Bench's per-job file. Synthetic jobs only.
  */
class RunLedgerSpec extends SparkSpec {

  private def inGroup[A](ledger: RunLedger, group: String)(f: => A): Seq[ledger.Job] = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    ledger.flush()
    ledger.jobs(group)
  }

  private def withLedger[A](f: RunLedger => A): A = {
    val ledger = RunLedger.attach(spark.sparkContext)
    try f(ledger) finally ledger.detach()
  }

  test("a group's jobs include its AQE stage jobs, as jobsOf counts them") {
    def query(): Unit = spark.range(0L, 1000L, 1L, 4)
      .groupBy((col("id") % 7).as("k")).count()
      .join(spark.range(7L).withColumnRenamed("id", "k"), "k")
      .collect()
    query() // plan and compile outside the count
    val jobs = withLedger(l => inGroup(l, "ledger-aqe")(query()))
    // measured: the aggregate's shuffle-map stage job, the small side's
    // broadcast job and the result job
    assert(jobs.size === 3, jobs.map(_.stages).mkString("; "))
    assert(jobsOf(query()) === jobs.size)
    assert(jobs.forall(j => j.end >= j.start && j.tasks > 0))
  }

  test("one slow task in 16 reads as a straggler; uniform tasks do not") {
    withLedger { ledger =>
      inGroup(ledger, "ledger-skewed") {
        spark.sparkContext.parallelize(0 until 16, 16)
          .foreach(i => if (i == 0) Thread.sleep(400))
      }
      inGroup(ledger, "ledger-uniform") {
        spark.sparkContext.parallelize(0 until 16, 16).foreach(_ => Thread.sleep(320))
      }
      val skewed = ledger.straggler("ledger-skewed")
      val uniform = ledger.straggler("ledger-uniform")
      info(f"straggler ratios: skewed $skewed%.1f, uniform $uniform%.2f")
      assert(skewed >= 4.0, ledger.stageStats("ledger-skewed"))
      assert(uniform < 2.0, ledger.stageStats("ledger-uniform"))
      assert(ledger.stageStats("ledger-uniform").map(_._2) === Seq(16))
    }
  }

  test("flush makes a job submitted just before it visible, and ended") {
    withLedger { ledger =>
      val sc = spark.sparkContext
      (1 to 3).foreach { i =>
        sc.setJobGroup(s"ledger-flush-$i", "flush")
        try sc.parallelize(Seq(i), 1).count() finally sc.clearJobGroup()
        ledger.flush()
        val jobs = ledger.jobs(s"ledger-flush-$i")
        assert(jobs.size === 1)
        assert(jobs.head.end >= jobs.head.start)
      }
    }
  }

  test("json parses, with one entry per job and none for its flushes") {
    withLedger { ledger =>
      val jobs = inGroup(ledger, "ledger-json") {
        spark.range(0L, 100L, 1L, 2).count()
        spark.sparkContext.parallelize(1 to 10, 3).map(_ * 2).collect()
      }
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(ledger.json)
      val entries = root.get("jobs")
      assert(entries.size === jobs.size)
      assert((0 until entries.size).map(entries.get(_).get("id").asInt) === jobs.map(_.id))
      val last = entries.get(entries.size - 1)
      assert(last.get("group").asText === "ledger-json")
      assert(last.get("tasks").asInt === 3)
      assert(last.get("stages").size === 1)
      assert(last.get("wall_s").asDouble >= 0.0 && last.get("gap_s").asDouble >= 0.0)
    }
  }
}
