package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** The traced run's only view into Spark: one listener that keeps every job
  * (with the job group the harness set on it), every completed stage and the
  * task metrics summed per stage attempt. Everything stays in memory until
  * the run ends; [[json]] writes it out for `run.py` to fold into spans and
  * per-layer metrics.
  */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long,
                  val stages: Seq[Int]) { var end: Long = -1L }

  final class Stage(val id: Int, val attempt: Int) {
    var submit = -1L
    var done = -1L
    var tasks = 0L
    var durMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var deserMs = 0L
    var resultSerMs = 0L
    var spillDisk = 0L
    var peakExec = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var inputBytes = 0L
    var inputRows = 0L
    val taskDurMs = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new Job(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submit = i.submissionTime.getOrElse(-1L)
    s.done = i.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    val d = e.taskInfo.finishTime - e.taskInfo.launchTime
    s.durMs += d
    s.taskDurMs += d
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.deserMs += m.executorDeserializeTime
      s.resultSerMs += m.resultSerializationTime
      s.spillDisk += m.diskBytesSpilled
      s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.localBytesRead +
        m.shuffleReadMetrics.remoteBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRows += m.inputMetrics.recordsRead
    }
  }

  /** Listener events arrive asynchronously; a job's end event is posted
    * after its stages' and tasks' events, so once every recorded job has
    * ended the per-stage sums are complete.
    */
  def awaitQuiet(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.exists(_.end < 0))
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(20)
    !open
  }

  def json: String = synchronized {
    import Json._
    val js = jobs.values.map { j =>
      obj("id" -> num(j.id), "group" -> str(j.group), "start" -> num(j.start),
          "end" -> num(j.end), "stages" -> arr(j.stages.map(num(_))))
    }
    val ss = stages.values.map { s =>
      obj("id" -> num(s.id), "attempt" -> num(s.attempt),
          "submit" -> num(s.submit), "done" -> num(s.done),
          "tasks" -> num(s.tasks), "dur_ms" -> num(s.durMs),
          "run_ms" -> num(s.runMs), "cpu_ns" -> num(s.cpuNs),
          "gc_ms" -> num(s.gcMs), "deser_ms" -> num(s.deserMs),
          "result_ser_ms" -> num(s.resultSerMs),
          "spill_disk" -> num(s.spillDisk), "peak_exec" -> num(s.peakExec),
          "shuffle_write" -> num(s.shuffleWrite),
          "shuffle_read" -> num(s.shuffleRead),
          "fetch_wait_ms" -> num(s.fetchWaitMs),
          "input_bytes" -> num(s.inputBytes), "input_rows" -> num(s.inputRows),
          "task_dur_ms" -> arr(s.taskDurMs.toSeq.map(num(_))))
    }
    obj("jobs" -> arr(js.toSeq), "stages" -> arr(ss.toSeq))
  }
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  def num(x: Long): String = x.toString
  def num(x: Int): String = x.toString
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
