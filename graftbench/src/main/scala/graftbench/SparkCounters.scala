package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters taken from outside the program: a SparkListener
  * and a QueryExecutionListener on the benchmark's own session. The
  * benchmark is the only caller and runs one call at a time, so a job
  * belongs to the call whose wall-clock window contains the job's start
  * — including jobs a call runs while it is still building its plan.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  import SparkCounters._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val sqlEnds = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    sqlEnds.add(System.currentTimeMillis())
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    sqlEnds.add(System.currentTimeMillis())

  /** Totals over the jobs that started in `[fromMs, toMs]`. */
  def window(fromMs: Long, toMs: Long): SparkWindow = {
    val inWindow = jobs.asScala.filter { case (_, j) => j.startMs >= fromMs && j.startMs <= toMs }
    val stages = inWindow.values.flatMap(_.stages).toSet
    val ts = tasks.asScala.filter(t => stages(t.stageId)).toVector
    val waitMs = ts.map(t => math.max(0L, t.launchMs - stageSubmitted.getOrDefault(t.stageId, t.launchMs))).sum
    val intervals = inWindow.toVector.map { case (id, j) =>
      (j.startMs, math.min(toMs, jobEnds.getOrDefault(id, toMs)))
    }
    SparkWindow(
      jobs = inWindow.size,
      tasks = ts.size,
      busyS = ts.map(_.runMs).sum / 1e3,
      waitS = waitMs / 1e3,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleWriteBytes = ts.map(_.shuffleWrite).sum,
      spillBytes = ts.map(_.spill).sum,
      sqlExecutions = sqlEnds.asScala.count(t => t >= fromMs && t <= toMs),
      jobIntervalsMs = SparkWindow.merge(intervals))
  }
}

object SparkCounters {
  private final case class Job(startMs: Long, stages: Seq[Int])
  private final case class TaskRec(stageId: Int, launchMs: Long, runMs: Long,
                                   gcMs: Long, shuffleWrite: Long, spill: Long)
}

final case class SparkWindow(jobs: Int, tasks: Int, busyS: Double, waitS: Double,
                             gcS: Double, shuffleWriteBytes: Long, spillBytes: Long,
                             sqlExecutions: Int,
                             jobIntervalsMs: Vector[(Long, Long)]) {
  def metrics: Seq[(String, Double, String)] = Seq(
    ("spark.jobs", jobs.toDouble, "count"),
    ("spark.task_busy_s", busyS, "s"),
    ("spark.task_wait_s", waitS, "s"),
    ("spark.gc_s", gcS, "s"),
    ("spark.shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    ("spark.spill_bytes", spillBytes.toDouble, "bytes"))
}

object SparkWindow {
  /** Union of possibly overlapping intervals, sorted. */
  def merge(xs: Vector[(Long, Long)]): Vector[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(Vector.empty[(Long, Long)]) {
      case (acc :+ ((a, b)), (c, d)) if c <= b => acc :+ ((a, math.max(b, d)))
      case (acc, iv) => acc :+ iv
    }
}
