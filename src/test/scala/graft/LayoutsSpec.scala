package graft

import graft.engine.Layouts
import org.scalatest.funsuite.AnyFunSuite

/** The one publish path for per-sf scenario tables (no Spark session
  * needed): [[Layouts.publish]] builds into a private work dir, renames it
  * into place at most once, and cleans up after a failed or losing build.
  * A source scan keeps it the ONLY path: a scenario that hand-rolls its
  * own rename or stream loop silently drifts from the lock, deadline and
  * cleanup rules the helpers enforce.
  */
class LayoutsSpec extends AnyFunSuite {

  private def freshRoot(): java.io.File =
    java.nio.file.Files.createTempDirectory("layouts-spec-").toFile

  private def siblings(root: java.io.File): Seq[String] =
    Option(root.listFiles()).toSeq.flatten.map(_.getName).sorted

  private def write(dir: String, name: String, body: String): Unit = {
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, name).toPath, body.getBytes("UTF-8"))
  }

  private def publish(path: String)(build: String => Unit): String =
    Layouts.publishWith(path, _ => ())(build)

  test("a build that throws publishes nothing, leaves no work dir, and rethrows") {
    val root = freshRoot()
    val path = new java.io.File(root, "tbl").getPath
    try {
      val e = intercept[IllegalStateException] {
        publish(path) { work =>
          write(work, "part-0", "half")
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage == "build failed")
      assert(siblings(root).isEmpty, s"left behind: ${siblings(root)}")
    } finally Layouts.rmTree(root)
  }

  test("two threads publishing one path: both return it, exactly one build is published") {
    val root = freshRoot()
    val path = new java.io.File(root, "tbl").getPath
    try {
      // both builds must be in flight together, so both get past the
      // exists-check and race the rename
      val bothBuilding = new java.util.concurrent.CountDownLatch(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val results = try {
        val fs = Seq("a", "b").map { id =>
          pool.submit(() => publish(path) { work =>
            write(work, "who", id)
            bothBuilding.countDown()
            assert(bothBuilding.await(30, java.util.concurrent.TimeUnit.SECONDS))
          })
        }
        fs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      assert(results == Seq(path, path))
      assert(siblings(root) == Seq("tbl"), s"left behind: ${siblings(root)}")
      assert(siblings(new java.io.File(path)) == Seq("who"))
      val who = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(path, "who").toPath), "UTF-8")
      assert(Set("a", "b").contains(who))
    } finally Layouts.rmTree(root)
  }

  test("publishing an existing path does not run the build") {
    val root = freshRoot()
    val path = new java.io.File(root, "tbl").getPath
    try {
      var builds = 0
      publish(path) { work => builds += 1; write(work, "v", "1") }
      assert(publish(path) { _ => builds += 1 } == path)
      assert(builds == 1)
      assert(siblings(root) == Seq("tbl"))
    } finally Layouts.rmTree(root)
  }

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** (file name, line) for every line under `pkg` containing `token`. */
  private def sites(pkg: String, token: String): Seq[(String, String)] =
    for {
      f <- scalaFiles(new java.io.File(s"src/main/scala/graft/$pkg"))
      line <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").linesIterator
      if line.contains(token)
    } yield (f.getName, line.trim)

  test("scenario tables are built only through Layouts.publish and StreamHarness.replay") {
    for (token <- Seq("renameTo(", "readStream", "processAllAvailable")) {
      val found = sites("queries", token)
      assert(found.isEmpty,
        s"graft/queries must not contain `$token` (use Layouts.publish / " +
          s"StreamHarness.replay): ${found.mkString("; ")}")
    }
    val renames = (sites("streaming", "renameTo(") ++ sites("engine", "renameTo("))
      .map(_._1).distinct.sorted
    assert(renames.forall(Set("Layouts.scala", "Commits.scala")),
      s"renameTo( outside Layouts/Commits: ${renames.mkString(", ")}")
    // the stream loop lives once, in StreamHarness.replay and its drain
    for (token <- Seq(".readStream", ".processAllAvailable()")) {
      val found = sites("streaming", token) ++ sites("engine", token)
      assert(found.map(_._1) == Seq("StreamHarness.scala"),
        s"expected one `$token`, in StreamHarness: ${found.mkString("; ")}")
    }
  }
}
