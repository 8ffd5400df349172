package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch nanoseconds: `nanoTime` precision on the epoch scale
  * Spark's listener events use (epoch milliseconds), so spans and jobs
  * compare directly.
  */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = offset + System.nanoTime()
}

/** A timed call into one graft module during operation `op`. */
final case class Span(op: Int, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Task metrics summed over a job's tasks. */
final class TaskAgg {
  var stages, tasks, failedTasks = 0L
  var runMs, cpuNs, schedulerDelayMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
  def +=(o: TaskAgg): Unit = {
    stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; schedulerDelayMs += o.schedulerDelayMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input; output += o.output
  }
}

final case class Job(id: Int, start: Long, var end: Long, agg: TaskAgg)

/** One micro-batch of a streaming query, from its progress event. */
final case class Trigger(start: Long, durationsMs: Map[String, Long])

/** The traced run's Spark-side ledger: jobs with their task metrics, and
  * streaming triggers with their phase durations. It records while it is
  * registered, which is around traced operations only. Spans and listener
  * records stay in memory until the run ends.
  */
final class Ledger extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val job = Job(e.jobId, e.time * 1000000L, -1L, new TaskAgg)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, job))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.agg.synchronized {
      j.agg.stages += 1
    })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val a = j.agg
      a.synchronized {
        a.tasks += 1
        if (e.reason != Success) a.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (e.taskInfo.gettingResult) e.taskInfo.gettingResultTime else 0L))
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
        }
      }
    }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.add(Trigger(
        java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Jobs that started inside the span, in start order (job times have
    * millisecond resolution, so the span's start is floored to it).
    */
  def jobsIn(s: Span): Seq[Job] = {
    val from = s.start / 1000000L * 1000000L
    jobs.values.asScala.filter(j => j.start >= from && j.start <= s.end).toSeq.sortBy(_.start)
  }

  /** Seconds of the span covered by at least one job (overlapping jobs
    * count once), so span time minus this is driver time outside jobs.
    */
  def inJobsSeconds(s: Span): Double = {
    var covered = 0L
    var reach = s.start
    jobsIn(s).foreach { j =>
      val a = math.max(j.start, reach)
      val b = math.min(if (j.end < 0) s.end else j.end, s.end)
      if (b > a) { covered += b - a; reach = b }
    }
    covered / 1e9
  }

  def triggersIn(s: Span): Seq[Trigger] = {
    val from = s.start / 1000000L * 1000000L
    triggers.asScala.filter(t => t.start >= from && t.start <= s.end).toSeq
  }

  def tasksIn(s: Span): TaskAgg = {
    val total = new TaskAgg
    jobsIn(s).foreach(j => j.agg.synchronized(total += j.agg))
    total
  }
}

/** Spans of the traced operations, kept in memory and written out once. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  @volatile var op = -1
  @volatile var enabled = false

  def apply[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val start = Clock.now
      try f finally all += Span(op, name, start, Clock.now)
    }

  def of(op: Int, name: String): Seq[Span] = all.filter(s => s.op == op && s.name == name).toSeq
}
