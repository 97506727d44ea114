package graft

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.engine.Layouts

/** One Spark session shared across a suite (local[4] keeps test startup
  * cheap; production parallelism concerns are covered by Bench, not tests),
  * plus the suite-scoped temp dirs and the job counter the suites share. */
trait SharedSparkSpec extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SharedSparkSpec.session

  private val tempDirs = new ConcurrentLinkedQueue[File]()

  /** A fresh dir under java.io.tmpdir, deleted with its contents in
    * `afterAll`. */
  protected def tempDir(prefix: String): File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => Layouts.rmTree(d)) finally super.afterAll()

  /** Spark jobs started while `body` runs, counted by job group. Listener
    * delivery is asynchronous but in order: once a barrier job started
    * after `body` has ended, every job `body` started has been counted. */
  protected def jobsDuring(body: => Unit): Int = {
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val barrier = s"$group-barrier"
    val jobs = new AtomicInteger(0)
    val barrierJobs = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      private def groupOf(e: SparkListenerJobStart) =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e) match {
        case `group` => jobs.incrementAndGet(): Unit
        case `barrier` => barrierJobs.add(e.jobId): Unit
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (barrierJobs.remove(e.jobId)) drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(barrier, "jobsDuring barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus never delivered the barrier job")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}

object SharedSparkSpec {
  lazy val session: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh").toFile
    sys.addShutdownHook(Layouts.rmTree(warehouse))
    val s = SparkSession.builder()
      .appName("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", graft.engine.Scratch.localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
