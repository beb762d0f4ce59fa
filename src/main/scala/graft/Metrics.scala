package graft

import org.apache.spark.MetricsBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker.{OPTIMIZATION, PLANNING}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The one metrics path of a run, on the Spark listener bus and the
  * session's query executions: the union of job intervals (job-busy time;
  * the rest of a window is driver gap), stage and task counters, the
  * planning time and duration of every finished SQL execution, and one
  * [[Metrics.Job]] per job. Given `stageLine`, it also reports one
  * `[progress]` line per completed stage (util/Progress.java's console
  * progress). Windows are read with [[mark]], which first drains the bus,
  * and [[between]]. [[reset]] drops the interval and job records; at most
  * 100 000 of each are kept, which bounds a run that never resets.
  */
final class Metrics private (spark: SparkSession, stageLine: Option[String => Unit])
    extends SparkListener with QueryExecutionListener {
  import Metrics._

  private val c = Array.fill(Counters.size)(0L)
  private var active = 0
  private var busySince = 0L
  private val busy = mutable.Queue[(Long, Long)]()
  private val done = mutable.Queue[Job]()
  private val open = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execSite = mutable.Map[Long, String]()

  private def keep[T](q: mutable.Queue[T], x: T): Unit = { q += x; if (q.size > 100000) q.dequeue() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c(0) += 1
    if (active == 0) busySince = e.time
    active += 1
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val root = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id")).map(_.toLong)
    val site = root.flatMap(execSite.get)
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name))
    e.stageIds.foreach(stageJob(_) = e.jobId)
    open(e.jobId) = Job(e.jobId, e.time, e.time, 0, root.getOrElse(-1L), site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) keep(busy, (busySince, e.time))
    open.remove(e.jobId).foreach(j => keep(done, j.copy(endMs = e.time)))
    stageJob.filterInPlace((_, j) => j != e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    synchronized(c(1) += 1)
    val si = e.stageInfo
    stageLine.foreach { out =>
      val secs = (for { s <- si.submissionTime; d <- si.completionTime }
        yield (d - s) / 1000.0).getOrElse(0.0)
      val m = si.taskMetrics
      val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val written = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      val rate = if (secs > 0 && in > 0) f" (${in / secs}%,.0f rec/s)" else ""
      out(f"[progress] stage ${si.stageId} '${si.name.takeWhile(_ != ' ')}' " +
        f"tasks=${si.numTasks} in=$in out=$written ${secs}%.1fs$rate")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c(2) += 1
    if (e.taskInfo != null && e.taskInfo.failed) c(3) += 1
    Option(e.taskMetrics).foreach { m =>
      c(4) += m.executorCpuTime
      c(5) += m.jvmGCTime
      c(6) += m.shuffleWriteMetrics.bytesWritten
      c(7) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageJob.get(e.stageId).flatMap(open.get).foreach(j => open(j.id) = j.copy(tasks = j.tasks + 1))
  }

  // a job's call site: the innermost graft frame of its root SQL execution
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized(e match {
    case s: SparkListenerSQLExecutionStart => execSite(s.executionId) =
        s.details.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse(s.description)
    case s: SparkListenerSQLExecutionEnd => execSite.remove(s.executionId)
    case _ =>
  })

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.collect { case (p, s) if p == OPTIMIZATION || p == PLANNING =>
      s.durationMs }.sum
    synchronized { c(8) += planMs; c(9) += durationNs }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The run's counters and wall clock, after every event posted so far. */
  def mark(): Mark = {
    MetricsBus.drain(spark.sparkContext)
    synchronized(Mark(c.clone(), System.currentTimeMillis()))
  }

  /** The window from `a` to `b`: counter deltas, `wall_s`, `job_busy_s`
    * (time with a job running), `driver_gap_s`, and `plan_s` / `query_s`
    * (planning and duration of the SQL executions that finished in it).
    */
  def between(a: Mark, b: Mark): Map[String, Double] = synchronized {
    val running = if (active > 0) Seq((busySince, b.ms)) else Nil
    val busyS = (busy.iterator ++ running).map { case (s, e) =>
      math.max(0L, math.min(e, b.ms) - math.max(s, a.ms)) }.sum / 1e3
    val wall = (b.ms - a.ms) / 1e3
    Counters.zipWithIndex.map { case ((k, scale), i) => k -> (b.c(i) - a.c(i)) * scale }.toMap ++
      Map("wall_s" -> wall, "job_busy_s" -> busyS, "driver_gap_s" -> math.max(0.0, wall - busyS))
  }

  /** Jobs that ended since the last [[reset]], in end order. */
  def jobs: Seq[Job] = synchronized(done.toList)

  def reset(): Unit = synchronized { busy.clear(); done.clear() }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Metrics {
  /** Counter names with the scale from raw units (ns, ms, bytes). */
  private val Counters = Seq("jobs" -> 1.0, "stages" -> 1.0, "tasks" -> 1.0,
    "task_failures" -> 1.0, "cpu_s" -> 1e-9, "gc_s" -> 1e-3, "shuffle_write_mb" -> 1e-6,
    "spill_mb" -> 1e-6, "plan_s" -> 1e-3, "query_s" -> 1e-9)

  final case class Mark(c: Array[Long], ms: Long)

  final case class Job(id: Int, startMs: Long, endMs: Long, tasks: Int,
      rootExecution: Long, site: String) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  /** Listens on `spark` from now on; `stageLine` gets the progress lines. */
  def attach(spark: SparkSession, stageLine: Option[String => Unit] = None): Metrics = {
    val m = new Metrics(spark, stageLine)
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    m
  }
}
