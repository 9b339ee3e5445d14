package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** What one finished task cost. */
final case class TaskSample(stageId: Int, runMs: Long, cpuNs: Long,
    durationMs: Long, inputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Listener totals attributed to one span. `stageTasks` counts tasks per
  * stage id; `lastJobEndMs` is the epoch-ms end of the span's last job.
  */
final case class Counts(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    runMs: Long = 0, cpuNs: Long = 0, overheadMs: Long = 0,
    inputBytes: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    lastJobEndMs: Long = 0, stageTasks: Map[Int, Int] = Map.empty) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs,
    overheadMs + o.overheadMs, inputBytes + o.inputBytes,
    shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    math.max(lastJobEndMs, o.lastJobEndMs), stageTasks ++ o.stageTasks)
}

/** Records Spark's job and task events and attributes them to spans.
  *
  * A job belongs to the span that was open when it started: the span id
  * the submitting thread put in its local properties, or else the span
  * whose interval holds the job's start time. A stage belongs to the first
  * job that lists it (a later job that shares a stage waits on it or skips
  * it), and a task to its stage's job, so tasks of overlapping jobs each
  * land in their own span.
  */
final class Ledger {
  import Ledger.Job
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobEnds = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskSample]

  def jobStart(jobId: Int, timeMs: Long, stageIds: Seq[Int],
      hint: Option[Int]): Unit = synchronized {
    jobs += Job(jobId, timeMs, stageIds, hint)
    stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = jobId)
  }

  def jobEnd(jobId: Int, timeMs: Long): Unit = synchronized {
    jobEnds(jobId) = timeMs
  }

  def taskEnd(t: TaskSample): Unit = synchronized { tasks += t }

  /** Totals per span id. `spanAt` maps an epoch-ns instant to the span open
    * then; jobs it cannot place are dropped.
    */
  def attribute(spanAt: Long => Option[Int]): Map[Int, Counts] = synchronized {
    val jobSpan: Map[Int, Int] = jobs.flatMap { j =>
      // a millisecond stamp covers [ms, ms + 1): look up its midpoint
      j.hint.orElse(spanAt(j.startMs * 1000000L + 500000L)).map(j.id -> _)
    }.toMap
    val perJob = jobs.filter(j => jobSpan.contains(j.id)).map { j =>
      jobSpan(j.id) -> Counts(jobs = 1,
        lastJobEndMs = jobEnds.getOrElse(j.id, j.startMs))
    }
    val perTask = tasks.flatMap { t =>
      stageJob.get(t.stageId).flatMap(jobSpan.get).map { span =>
        span -> Counts(tasks = 1, runMs = t.runMs, cpuNs = t.cpuNs,
          overheadMs = math.max(0L, t.durationMs - t.runMs),
          inputBytes = t.inputBytes, shuffleReadBytes = t.shuffleReadBytes,
          shuffleWriteBytes = t.shuffleWriteBytes, spillBytes = t.spillBytes,
          stageTasks = Map(t.stageId -> 1))
      }
    }
    (perJob ++ perTask).groupBy(_._1).map { case (span, cs) =>
      val total = cs.map(_._2).foldLeft(Counts()) { (a, c) =>
        a + c.copy(stageTasks = Map.empty)
      }
      val stageTasks = cs.flatMap(_._2.stageTasks).groupMapReduce(_._1)(_._2)(_ + _)
      span -> total.copy(stages = stageTasks.size, stageTasks = stageTasks)
    }
  }
}

object Ledger {
  private final case class Job(id: Int, startMs: Long, stageIds: Seq[Int],
      hint: Option[Int])
}

/** Feeds Spark listener events into a [[Ledger]]. */
final class LedgerListener(ledger: Ledger, spanKey: String) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val hint = Option(e.properties).flatMap(p => Option(p.getProperty(spanKey)))
      .flatMap(_.toIntOption)
    ledger.jobStart(e.jobId, e.time, e.stageIds, hint)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    ledger.jobEnd(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) ledger.taskEnd(TaskSample(e.stageId, m.executorRunTime,
      m.executorCpuTime, e.taskInfo.duration, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled))
  }
}
