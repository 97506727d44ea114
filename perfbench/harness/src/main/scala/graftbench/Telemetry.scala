package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Job, stage and task metrics of one job group (one query and phase). */
final class GroupStats {
  var jobs = 0
  var loadJobs = 0
  var loadMs = 0L
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
}

/** A SparkListener owned by the benchmark. Every job carries the job group
  * the benchmark set around the call that started it; completed stages fold
  * their task metrics into that group. A job is a schema-inference load job
  * when its result stage is named `parquet at ...` (the call site of
  * `DataFrameReader.parquet`).
  *
  * [[executions]], registered with the session's listener manager, keeps
  * the query executions that finished, so a caller can read the planning
  * phases and the plan of the execution it just ran.
  *
  * Listener delivery is asynchronous, so [[take]] first runs a one-task
  * barrier job and waits for its end event: the scheduler posts events in
  * order on one queue (query execution events included), so every event of
  * the jobs and executions that ran before the barrier has been delivered
  * by then. */
final class Telemetry(sc: SparkContext) extends SparkListener {
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val jobIsLoad = new ConcurrentHashMap[Int, Boolean]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val barriers = new java.util.concurrent.atomic.AtomicLong(0L)
  private val groups = new ConcurrentHashMap[String, GroupStats]()

  private val finished = new ConcurrentLinkedQueue[QueryExecution]()

  val executions: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = finished.add(qe): Unit
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The last query execution that finished since the previous call, after
    * a [[take]]; forgets the others. */
  def lastExecution(): Option[QueryExecution] = {
    var last: Option[QueryExecution] = None
    var qe = finished.poll()
    while (qe != null) { last = Some(qe); qe = finished.poll() }
    last
  }

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      jobGroup.put(e.jobId, group)
      jobStartMs.put(e.jobId, e.time)
      val result = e.stageInfos.sortBy(_.stageId).lastOption
      jobIsLoad.put(e.jobId, result.exists(_.name.startsWith("parquet at")))
      e.stageInfos.foreach(si => stageJob.put(si.stageId, e.jobId))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).flatMap(j => Option(jobGroup.get(j)))
      .filter(_ != Telemetry.BarrierGroup).foreach { g =>
      val s = stats(g)
      val m = info.taskMetrics
      s.synchronized {
        s.stages += 1
        s.tasks += info.numTasks
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private def jobEnded(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g =>
      val s = stats(g)
      val ms = e.time - jobStartMs.getOrDefault(e.jobId, e.time)
      s.synchronized {
        s.jobs += 1
        if (jobIsLoad.getOrDefault(e.jobId, false)) { s.loadJobs += 1; s.loadMs += ms }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (jobGroup.get(e.jobId) == Telemetry.BarrierGroup) barriers.incrementAndGet()
    else jobEnded(e)
    jobGroup.remove(e.jobId); jobStartMs.remove(e.jobId); jobIsLoad.remove(e.jobId)
  }

  /** The metrics of `group`, once every event of its jobs has been
    * delivered, and forget the group. Call it after the group's last action
    * returned; it leaves the thread's job group cleared. */
  def take(group: String): GroupStats = {
    val before = barriers.get
    sc.setJobGroup(Telemetry.BarrierGroup, "listener barrier", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    while (barriers.get == before) Thread.sleep(1)
    stageJob.values.removeIf(j => !jobGroup.containsKey(j))
    Option(groups.remove(group)).getOrElse(new GroupStats)
  }
}

object Telemetry {
  val BarrierGroup = "graftbench-barrier"
}
