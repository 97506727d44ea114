package graft.engine

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The one measurement scope of a catalog run: what the Spark jobs that
  * one call started did, counted by job group, so jobs that other threads
  * run at the same time on the same session are not counted. For mains and
  * specs only: a scope inside engine code would take its jobs away from
  * any caller that attributes jobs by its own job group. */
object Telemetry {

  /** Jobs started, and the summed task metrics of their completed stages. */
  final case class Run(jobs: Int, stages: Int, tasks: Long, inputBytes: Long,
                       shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long)

  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  // the local properties SparkContext.setJobGroup sets
  private val GroupKeys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** `body` under a fresh job group, and what its jobs did. Listener
    * delivery is asynchronous but in order: once a one-task barrier job
    * started after `body` has ended, every event of `body`'s jobs has been
    * delivered. The caller's job group is restored, also when `body`
    * throws. */
  def during(s: SparkSession)(body: => Unit): Run = {
    val sc = s.sparkContext
    val group = s"telemetry-${UUID.randomUUID()}"
    val barrier = s"$group-barrier"
    val collector = new Collector(group, barrier)
    val caller = GroupKeys.map(k => k -> sc.getLocalProperty(k))
    sc.addSparkListener(collector)
    try {
      sc.setJobGroup(group, "Telemetry.during")
      body
      sc.setJobGroup(barrier, "Telemetry.during barrier")
      sc.parallelize(Seq(1), 1).count()
      if (!collector.drained.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("the listener bus never delivered the barrier job")
      collector.run
    } finally {
      caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(collector)
    }
  }

  // Every callback runs on the one listener-bus thread, and `run` is read
  // only after `drained` opens.
  private final class Collector(group: String, barrier: String) extends SparkListener {
    private val stageIds = mutable.Set.empty[Int]
    private var barrierJob = -1
    val drained = new CountDownLatch(1)
    var run = Run(0, 0, 0L, 0L, 0L, 0L, 0L)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
        case `group` => run = run.copy(jobs = run.jobs + 1); stageIds ++= e.stageIds
        case `barrier` => barrierJob = e.jobId
        case _ =>
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val m = info.taskMetrics
      if (stageIds(info.stageId) && m != null)
        run = run.copy(
          stages = run.stages + 1,
          tasks = run.tasks + info.numTasks,
          inputBytes = run.inputBytes + m.inputMetrics.bytesRead,
          shuffleWriteBytes = run.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = run.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          spillBytes = run.spillBytes + m.diskBytesSpilled)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == barrierJob) drained.countDown()
  }
}
