package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.engine.Layouts

/** One Spark session shared across a suite (local[4] keeps test startup
  * cheap; production parallelism concerns are covered by Bench, not tests),
  * plus the suite-scoped temp dirs. */
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
