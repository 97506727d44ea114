package graft

import graft.engine.{Layouts, Tables}
import org.scalatest.funsuite.AnyFunSuite

/** The one commit rule for /tmp layouts: [[Layouts.publish]] builds into a
  * private work dir, renames it into place at most once, and cleans up
  * after a failed or losing build; [[Layouts.committed]] opens what it
  * published. The rule tests need no Spark session (the refresh is passed
  * in); the `committed` tests write real parquet. Source scans keep it the
  * ONLY path: a query that hand-rolls its own rename, stream loop, layout
  * path or commit marker silently drifts from the commit, deadline and
  * cleanup rules the helpers enforce.
  */
class LayoutsSpec extends AnyFunSuite with SharedSparkSpec {

  private def freshRoot(): java.io.File =
    java.nio.file.Files.createTempDirectory("layouts-spec-").toFile

  private def siblings(root: java.io.File): Seq[String] =
    Option(root.listFiles()).toSeq.flatten.map(_.getName).sorted

  private def write(dir: String, name: String, body: String): Unit = {
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, name).toPath, body.getBytes("UTF-8"))
  }

  private def publish(path: String)(build: String => Unit): String = {
    Layouts.publishWith(path, _ => ())(build)
    path
  }

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

  test("publishWith reports whether this call's rename published") {
    val root = freshRoot()
    val path = new java.io.File(root, "tbl").getPath
    val other = new java.io.File(root, "other").getPath
    try {
      assert(Layouts.publishWith(path, _ => ())(write(_, "v", "1")))
      assert(!Layouts.publishWith(path, _ => ())(write(_, "v", "2")), "an existing path is not republished")
      assert(!Layouts.publishWith(other, _ => ()) { work =>
        write(work, "who", "this")
        write(other, "who", "other")
      }, "a lost rename race is not this call's publish")
    } finally Layouts.rmTree(root)
  }

  test("a publisher in another process that wins the rename race counts as published") {
    val root = freshRoot()
    val path = new java.io.File(root, "tbl").getPath
    try {
      // the build sees `path` absent; the other process publishes it
      // before this build's rename
      assert(publish(path) { work =>
        write(work, "who", "this")
        write(path, "who", "other")
      } == path)
      assert(siblings(root) == Seq("tbl"), s"left behind: ${siblings(root)}")
      assert(new String(java.nio.file.Files.readAllBytes(
        new java.io.File(path, "who").toPath), "UTF-8") == "other")
    } finally Layouts.rmTree(root)
  }

  /** A layout name unique to this run (its tag folds in a fresh dir's
    * path), its published path, and a cleanup of both. */
  private def withLayout(stem: String)(body: (String, String, String) => Unit): Unit = {
    val d = tempDir("layouts-spec-d").getPath
    val name = s"layoutsspec/$stem"
    val path = Layouts.path(d, name)
    try body(d, name, path)
    finally {
      Layouts.rmTree(new java.io.File(path))
      new java.io.File(path).getParentFile.delete(): Unit // only if empty
    }
  }

  private def buildDirs(path: String): Seq[String] = {
    val f = new java.io.File(path)
    Option(f.getParentFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(f.getName + ".build-"))
  }

  test("committed: a writer that throws midway publishes nothing and the next call rebuilds") {
    import spark.implicits._
    withLayout("partial") { (d, name, path) =>
      val e = intercept[IllegalStateException] {
        Layouts.committed(spark, d, name) { out =>
          Seq(1L, 2L).toDF("a").write.parquet(s"$out/part")
          throw new IllegalStateException("writer failed")
        }
      }
      assert(e.getMessage == "writer failed")
      assert(!new java.io.File(path).exists(), "a failed writer must not publish")
      assert(buildDirs(path).isEmpty, s"left behind: ${buildDirs(path)}")
      var writes = 0
      val df = Layouts.committed(spark, d, name) { out =>
        writes += 1
        Seq(1L, 2L, 3L).toDF("a").write.parquet(out)
      }
      assert(writes == 1 && df.count() == 3)
      assert(Layouts.committed(spark, d, name) { _ => writes += 1 }.count() == 3)
      assert(writes == 1, "a published layout is opened, not rewritten")
    }
  }

  test("committed: a three-part layout becomes visible all at once") {
    import spark.implicits._
    withLayout("threepart") { (d, name, path) =>
      val parts = Seq("keys", "perfile", "bits")
      var seenEarly = Seq.empty[String]
      val opened = Layouts.committed(spark, d, name, (s, p) => Tables.parquet(s, s"$p/bits")) {
        out =>
          parts.zipWithIndex.foreach { case (part, i) =>
            Seq(i.toLong).toDF("i").write.parquet(s"$out/$part")
            if (new java.io.File(path).exists()) seenEarly :+= part
          }
      }
      assert(seenEarly.isEmpty, s"path visible after writing only ${seenEarly.headOption}")
      assert(parts.forall(p => new java.io.File(s"$path/$p/_SUCCESS").isFile))
      assert(opened.as[Long].collect().toSeq == Seq(2L))
      assert(buildDirs(path).isEmpty, s"left behind: ${buildDirs(path)}")
    }
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

  test("layout paths and commit markers live only in Layouts") {
    for {
      token <- Seq("Layouts.tag(", "\"/tmp/graft_", "_SUCCESS", ".written", "_rowcount",
        "Layouts.ensure")
      pkg <- Seq("queries", "streaming")
    } {
      val found = sites(pkg, token)
      assert(found.isEmpty,
        s"graft/$pkg must not contain `$token` (name the layout and let " +
          s"Layouts.publish / Layouts.committed compose and commit it): ${found.mkString("; ")}")
    }
  }
}
