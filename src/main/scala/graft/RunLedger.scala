package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The one record of a session's runs that every measurement main and the
  * test harness read: each job (its group, start and end, and each stage's
  * name and task count), and per stage the successful tasks' durations and
  * the summed memory spill, disk spill and peak execution memory.
  *
  * Spark delivers listener events asynchronously. [[flush]] is the one way
  * to wait for them: it submits a marker job under a group of its own and
  * waits for that job's start event. The bus delivers events in order, so
  * by then every event of a job that ended before the call has arrived.
  * AQE stage and broadcast jobs inherit the submitting thread's job group,
  * so [[jobs]] of a group counts them too.
  */
final class RunLedger private (sc: SparkContext) extends SparkListener {
  import RunLedger._

  final class Job(val id: Int, val group: String, val start: Long,
                  val stages: Seq[(Int, String, Int)]) {
    var end = -1L
    def tasks: Int = stages.map(_._3).sum
  }
  private final class Stage {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var memSpill, diskSpill, peakExec = 0L
  }

  private val jobMap = mutable.LinkedHashMap.empty[Int, Job]
  private val stageMap = mutable.HashMap.empty[Int, Stage]
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group.startsWith(FlushPrefix))
      Option(markers.get(group)).foreach(_.countDown())
    else synchronized {
      jobMap(e.jobId) = new Job(e.jobId, group, e.time, e.stageInfos.map(si =>
        (si.stageId, si.name.take(60), si.numTasks)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobMap.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageMap.getOrElseUpdate(e.stageId, new Stage)
    if (e.taskInfo != null && e.taskInfo.successful) s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.memSpill += m.memoryBytesSpilled
      s.diskSpill += m.diskBytesSpilled
      s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
    }
  }

  /** Waits until every event of a job that ended before this call has been
    * recorded. Call it outside a job group: it clears the caller's group.
    */
  def flush(): Unit = {
    val group = FlushPrefix + java.util.UUID.randomUUID()
    val seen = new CountDownLatch(1)
    markers.put(group, seen)
    try {
      sc.setJobGroup(group, "run ledger flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally markers.remove(group)
  }

  def detach(): Unit = sc.removeSparkListener(this)

  def jobs(group: String): Seq[Job] = synchronized(jobMap.values.filter(_.group == group).toSeq)

  /** Per stage of `group`'s jobs: (stage id, successful tasks, median ms, max ms). */
  def stageStats(group: String): Seq[(Int, Int, Long, Long)] = synchronized {
    jobs(group).flatMap(_.stages.map(_._1)).distinct.sorted.flatMap { id =>
      stageMap.get(id).filter(_.taskMs.nonEmpty).map { s =>
        val ts = s.taskMs.sorted
        (id, ts.size, ts(ts.size / 2), ts.last)
      }
    }
  }

  /** Worst max/median task duration over `group`'s stages that have at
    * least 16 tasks and a task of at least 300 ms; below that, scheduler
    * noise dominates and a "4x" means nothing. 1.0 when none qualifies.
    */
  def straggler(group: String): Double = {
    val ratios = stageStats(group).collect {
      case (_, n, med, mx) if n >= 16 && mx >= 300L => mx.toDouble / math.max(med, 1L)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Summed memory and disk spill bytes, and the peak execution memory of
    * any one task, over every recorded task.
    */
  def spill: (Long, Long, Long) = synchronized {
    val ss = stageMap.values
    (ss.map(_.memSpill).sum, ss.map(_.diskSpill).sum,
      if (ss.isEmpty) 0L else ss.map(_.peakExec).max)
  }

  /** One entry per recorded job, in job id order: its wall, the gap since
    * the previous job of its group ended, its tasks and its stages.
    */
  def json: String = synchronized {
    val lastEnd = mutable.HashMap.empty[String, Long]
    jobMap.values.toSeq.sortBy(_.id).map { j =>
      val gap = lastEnd.get(j.group).fold(0L)(t => math.max(0L, j.start - t))
      lastEnd(j.group) = math.max(lastEnd.getOrElse(j.group, 0L), j.end)
      val stages = j.stages.map { case (id, name, n) =>
        s"""{"id":$id,"name":${str(name)},"tasks":$n}""" }.mkString("[", ",", "]")
      s"""{"id":${j.id},"group":${str(j.group)},"start":${j.start},"end":${j.end},""" +
        s""""wall_s":${(j.end - j.start) / 1000.0},"gap_s":${gap / 1000.0},""" +
        s""""tasks":${j.tasks},"stages":$stages}"""
    }.mkString("{\"jobs\":[\n", ",\n", "\n]}\n")
  }
}

object RunLedger {
  private val FlushPrefix = "graft-ledger-flush-"

  /** A ledger registered on `sc`'s listener bus; [[RunLedger.detach]] ends it. */
  def attach(sc: SparkContext): RunLedger = {
    val l = new RunLedger(sc)
    sc.addSparkListener(l)
    l
  }

  private def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
