package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Task-metric totals of one stage (or of any set of stages). */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var deserMs = 0L
  var serMs = 0L
  var gcMs = 0L
  var wallMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var inputRows = 0L

  /** Time tasks spent neither deserializing, running nor serializing:
    * waiting on the scheduler and result fetch.
    */
  def schedDelayMs: Long = math.max(0L, wallMs - runMs - deserMs - serMs)

  def add(o: TaskTotals): TaskTotals = {
    tasks += o.tasks; runMs += o.runMs; deserMs += o.deserMs; serMs += o.serMs
    gcMs += o.gcMs; wallMs += o.wallMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    inputBytes += o.inputBytes; inputRows += o.inputRows
    this
  }
}

final class StageRec(val id: Int, val submitMs: Long) {
  var completeMs: Long = submitMs
  val totals = new TaskTotals
}

/** One Spark job, tagged with the benchmark span that started it. A job
  * started by a streaming query's own thread carries the span it
  * inherited from the caller and is marked `streaming`.
  */
final class JobRec(val id: Int, val span: String, val streaming: Boolean,
    val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = startMs
  val stages = mutable.ArrayBuffer.empty[StageRec]
}

/** The benchmark's SparkListener. It keeps, in memory, every job and
  * stage started under a benchmark span (the `Tracer.SpanKey` local
  * property the harness sets around each phase) with its task-metric
  * totals. Events without a span (untraced executions) are ignored.
  * All state is touched under the tracer's lock; readers call
  * `BenchHooks.drain` first so a phase's events have all arrived.
  */
final class Tracer extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { span =>
      val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
      val rec = new JobRec(e.jobId, span, streaming, e.time, e.stageIds)
      jobs(e.jobId) = rec
      e.stageIds.foreach(stageJob(_) = rec)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach { job =>
      val rec = new StageRec(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      stages(rec.id) = rec
      job.stages += rec
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = s.totals
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.deserMs += m.executorDeserializeTime
      t.serMs += m.resultSerializationTime
      t.gcMs += m.jvmGCTime
      t.wallMs += e.taskInfo.duration
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRows += m.inputMetrics.recordsRead
    }
  }

  /** Jobs whose span starts with `prefix`, in start order. */
  def jobsUnder(prefix: String): Seq[JobRec] = synchronized {
    jobs.valuesIterator.filter(_.span.startsWith(prefix)).toVector
  }
}

object Tracer {
  /** Local property naming the benchmark span of the calling thread. */
  val SpanKey = "graftbench.span"

  /** Task totals over a set of jobs. */
  def totals(js: Seq[JobRec]): TaskTotals =
    js.flatMap(_.stages).foldLeft(new TaskTotals)((acc, s) => acc.add(s.totals))

  /** Length of the union of `[start, end)` intervals (ms). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
