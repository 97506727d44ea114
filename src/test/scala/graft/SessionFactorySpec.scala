package graft

import org.scalatest.funsuite.AnyFunSuite

/** One session factory (no Spark session needed): every main gets its
  * session from `engine.Tables.localSession`, so a session default (the
  * catalog-sized codegen cache, AQE, the UTC clock, the scratch dir) is
  * set in one place and every surface measures the same engine. A
  * hand-rolled `SparkSession.builder` in a main silently drifts from those
  * defaults. The test session (`SharedSparkSpec`) lives under src/test and
  * keeps its fixed local[4], which the plan pins depend on.
  */
class SessionFactorySpec extends AnyFunSuite {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("src/main has exactly one SparkSession.builder, inside Tables.localSession") {
    val sites = for {
      f <- scalaFiles(new java.io.File("src/main/scala"))
      line <- read(f).linesIterator
      if line.contains("SparkSession.builder")
    } yield f.getPath
    assert(sites == Seq("src/main/scala/graft/engine/Tables.scala"),
      s"expected one builder, in Tables.localSession; found ${sites.size}: " +
        sites.mkString(", "))
    // the factory is the object's last member, so its body runs to the end
    val src = read(new java.io.File(sites.head))
    val factory = src.substring(src.indexOf("def localSession("))
    assert(factory.contains("SparkSession.builder"),
      "the builder in Tables.scala is not in localSession")
    assert(factory.contains("\"spark.sql.codegen.cache.maxEntries\""),
      "localSession no longer sizes the codegen class cache")
  }
}
