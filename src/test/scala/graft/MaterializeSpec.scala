package graft

import graft.engine.{Layouts, Materialize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The one lineage policy: [[Materialize.cut]] is the only lineage cut
  * under src/main, [[Materialize.unrolled]] the only way to see a loop's
  * uncut plan, and that scope reaches neither another thread nor a /tmp
  * layout build. [[Materialize.release]] is not called here: it unpersists
  * every RDD of the session all suites share, so it would pull checkpoint
  * blocks out from under a suite running in parallel. */
class MaterializeSpec extends AnyFunSuite with SharedSparkSpec {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** (file path, line) for every line under src/main containing `token`. */
  private def sites(token: String): Seq[(String, String)] =
    for {
      f <- scalaFiles(new java.io.File("src/main/scala"))
      line <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").linesIterator
      if line.contains(token)
    } yield (f.getPath, line.trim)

  private def isCut(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().exists(_.isInstanceOf[LogicalRDD])

  private def frame: DataFrame = spark.range(8).toDF("id")

  test("(a) lineage is cut and persisted RDDs are freed only in engine/Materialize.scala") {
    for (token <- Seq(".localCheckpoint(", "getPersistentRDDs", "truncate: Boolean", "def ckpt(df")) {
      val found = sites(token).filterNot(_._1.endsWith("engine/Materialize.scala"))
      assert(found.isEmpty,
        s"`$token` outside engine/Materialize.scala (use Materialize.cut / " +
          s"Materialize.release / Materialize.unrolled): ${found.mkString("; ")}")
    }
  }

  test("(b) a cut frame reads a LogicalRDD; the same frame built inside unrolled does not") {
    val cut = Materialize.cut(frame, eager = false)
    assert(isCut(cut), cut.queryExecution.analyzed.treeString)
    assert(cut.collect().map(_.getLong(0)).sorted.toSeq == (0L until 8L))
    val uncut = Materialize.unrolled(Materialize.cut(frame, eager = false))
    assert(!isCut(uncut), uncut.queryExecution.analyzed.treeString)
    assert(isCut(Materialize.cut(frame, eager = false)), "the scope must end with its body")
  }

  test("(c) a thread started inside unrolled still cuts") {
    @volatile var fromThread: DataFrame = null
    Materialize.unrolled {
      val worker = new Thread(() => fromThread = Materialize.cut(frame, eager = false))
      worker.start()
      worker.join()
      assert(!isCut(Materialize.cut(frame, eager = false)), "the scope's own thread must not cut")
    }
    assert(isCut(fromThread), fromThread.queryExecution.analyzed.treeString)
  }

  test("(d) a layout published inside unrolled is built with cuts") {
    val path = new java.io.File(tempDir("materialize-spec"), "layout").getPath
    var inBuild: DataFrame = null
    Materialize.unrolled {
      Layouts.publishWith(path, _ => ()) { out =>
        inBuild = Materialize.cut(frame, eager = false)
        new java.io.File(out).mkdirs(): Unit
      }
      assert(!isCut(Materialize.cut(frame, eager = false)), "the audit's scope resumes after the build")
    }
    assert(new java.io.File(path).isDirectory)
    assert(isCut(inBuild), inBuild.queryExecution.analyzed.treeString)
  }
}
