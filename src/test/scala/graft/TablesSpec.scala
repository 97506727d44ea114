package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Broadcasts, FileSkipping, Layouts, Tables, Telemetry}

/** `Tables.parquet` opens a parquet table from one footer read on the
  * driver instead of Spark's one-task schema-inference job. Its contract is
  * that nothing else changes: the schema is the one `spark.read.parquet`
  * infers (same footer, same converter flags), no Spark job runs, the
  * `events` nanos branch of `Tables.load` still fires, and a table
  * rewritten in place is seen at once (there is no cache). The source
  * scans keep base tables, committed layouts and commit-log snapshots on
  * that one path, keep `Telemetry` scopes out of engine code, and keep
  * every broadcast-hint decision in `Broadcasts` and every size or file
  * range on the footers.
  */
class TablesSpec extends AnyFunSuite with SharedSparkSpec {
  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  test("(a) footer schema equals the inferred schema for every table and committed layout") {
    for (d <- sfs; n <- Tables.names) {
      val p = s"$d/$n.parquet"
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    // build a few layouts of distinct shapes (partitioned, nested structs,
    // arrays, range-clustered files) so the walk never
    // comes up empty; the rest are whatever the other suites committed
    val d = sfs.head
    Seq("nested_inline_agg", "pp_dynamic_pruning", "etl_deletion_vectors",
      "layout_file_skipping", "graph_degree_hist", "dd_winnowing")
      .foreach(q => SparkEntry.queries(q)(spark, d))
    val tags = sfs.map(Layouts.tag)
    def committed(f: File): Seq[File] =
      if (new File(f, "_SUCCESS").isFile) Seq(f)
      else Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName)
        .filterNot(_.getName.contains(".build-")).flatMap(committed)
    def dataFiles(f: File): Seq[File] = Option(f.listFiles()).toSeq.flatten
      .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
      .flatMap(c => if (c.isDirectory) dataFiles(c) else Seq(c))
    val layouts = Option(new File("/tmp").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .flatMap(committed)
      .filter(f => tags.exists(f.getPath.contains))
      .filter { f => val fs = dataFiles(f); fs.nonEmpty && fs.forall(_.getName.endsWith(".parquet")) }
    assert(layouts.size >= 6, s"too few committed layouts found: $layouts")
    for (f <- layouts) {
      val p = f.getPath
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
  }

  test("(b) Tables.load opens all ten tables without a Spark job") {
    val d = sfs.head
    assert(Telemetry.during(spark)(Tables.names.foreach(n => Tables.load(spark, d, n).schema)).jobs == 0)
    // control: the listener does see a schema-inference job
    assert(Telemetry.during(spark)(spark.read.parquet(s"$d/orders.parquet").schema).jobs >= 1)
  }

  test("(c) Tables.load floors a TIMESTAMP(NANOS) events.ts to microseconds") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir("graft-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = Seq(1700000000123456789L, 1700000000000000999L, 1600000000000001000L)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"${dir.getPath}/events.parquet"))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(new SimpleGroupFactory(schema).newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally w.close()
    val ev = Tables.load(spark, dir.getPath, "events")
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val micros = ev.orderBy("event_id").selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
    assert(micros == nanos.map(_ / 1000))
  }

  test("(d) a table rewritten at the same path shows its new schema at once") {
    import spark.implicits._
    val dir = tempDir("graft-rewrite")
    val p = s"${dir.getPath}/t"
    Seq(1L, 2L).toDF("a").write.parquet(p)
    assert(Tables.parquet(spark, p).schema.fieldNames.toSeq == Seq("a"))
    Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(p)
    val again = Tables.parquet(spark, p)
    assert(again.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(again.as[(Long, String)].collect().toSeq == Seq((3L, "x")))
  }

  test("(e) a _common_metadata summary wins over the first data file, as in Spark") {
    import spark.implicits._
    val dir = tempDir("graft-summary")
    val p = s"${dir.getPath}/t"
    Seq((1L, 2L)).toDF("a", "b").write
      .option("parquet.summary.metadata.level", "ALL").parquet(p)
    assert(new File(p, "_common_metadata").isFile)
    // a wider file that sorts before every part-file
    Seq((1L, 2L, 3L)).toDF("a", "b", "c").coalesce(1).write.parquet(s"${dir.getPath}/w")
    val wide = new File(s"${dir.getPath}/w").listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(wide.toPath, new File(p, "a-wide.parquet").toPath)
    val inferred = spark.read.parquet(p).schema
    assert(inferred.fieldNames.toSeq == Seq("a", "b"))
    assert(Tables.parquet(spark, p).schema == inferred)
  }

  test("(f) gate row counts and skipping survivors come from footers, with no job") {
    // the test sfs and sf0.1, their sibling dir (the bench scale)
    for (d <- sfs :+ new File(new File(sfs.head).getParentFile, "sf0.1").getPath) {
      // publish the node and file-skipping layouts on first use
      val nodes = graft.queries.Graph.nodesPath(spark, d)
      SparkEntry.queries("layout_file_skipping")(spark, d)
      val counted = nodes +:
        Seq("customer", "supplier", "part", "embeddings", "documents").map(n => s"$d/$n.parquet")
      var counts = Seq.empty[Long]
      var gates = Seq.empty[Boolean]
      var survivors = Seq.empty[String]
      val run = Telemetry.during(spark) {
        counts = counted.map(Tables.rowCount(spark, _))
        gates = Seq(graft.queries.Graph.nodeHintGate(spark, d),
          graft.queries.Similarity.embHintGate(spark, d),
          Broadcasts.fits(spark, s"$d/documents.parquet", Broadcasts.DocumentRows)) ++
          Seq("customer", "supplier", "part").map(graft.queries.Relational.scaledHintOn(spark, d, _))
        survivors = FileSkipping.survivors(spark, Layouts.path(d, "filestats/lineitem"),
          "l_extendedprice", 2000.0, 15000.0)
      }
      assert(run.jobs == 0, d)
      for ((p, n) <- counted.zip(counts)) {
        assert(n > 0, p)
        assert(n == spark.read.parquet(p).count(), p)
      }
      // every test sf sits below every limit: each gate keeps its hint
      assert(gates.forall(identity), s"$d: $gates")
      assert(survivors.nonEmpty && survivors.length < 8, s"$d: $survivors")
    }
  }

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** (path under src/main/scala/graft, trimmed line) for every line
    * containing `token`. */
  private def sites(token: String): Seq[(String, String)] = {
    val root = new File("src/main/scala/graft")
    for {
      f <- scalaFiles(root)
      line <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").linesIterator
      if line.contains(token)
    } yield (root.toPath.relativize(f.toPath).toString, line.trim)
  }

  test("base tables and committed layouts open only through Tables and Layouts.committed") {
    val loaders = sites("def t(").filter(_._1.startsWith("queries/"))
    assert(loaders.isEmpty,
      s"graft/queries defines its own table loader (use Tables.load): ${loaders.mkString("; ")}")
    val ensures = (sites("ensureCommitted(") ++ sites("Layouts.ensure")).map(_._1).distinct
    assert(ensures.isEmpty,
      s"a second layout commit path (use Layouts.committed): ${ensures.mkString(", ")}")
    val raw = (sites(""".read.parquet(s"$d/""") ++ sites(""".read.parquet(s"$sfDir/"""))
      .filterNot(_._1 == "engine/Tables.scala")
    assert(raw.isEmpty, s"base table read outside Tables: ${raw.mkString("; ")}")
    val snapshots = sites(".read.parquet(")
      .filter { case (f, l) => f.startsWith("queries/") && l.contains("snapshotFiles(") }
    assert(snapshots.isEmpty,
      s"commit-log snapshot read outside Commits.read: ${snapshots.mkString("; ")}")
    val inCommits = sites(".read.parquet(").filter(_._1 == "engine/Commits.scala")
    assert(inCommits.isEmpty,
      s"Commits opens parquet without Tables.parquet: ${inCommits.mkString("; ")}")
  }

  test("no query, streaming or engine code opens a Telemetry scope") {
    // a nested job group takes a call's jobs away from a caller that
    // attributes them by its own group
    val scoped = sites("Telemetry.").filter { case (f, _) =>
      f.startsWith("queries/") || f.startsWith("streaming/") ||
        (f.startsWith("engine/") && f != "engine/Telemetry.scala")
    }
    assert(scoped.isEmpty, s"Telemetry used outside mains: ${scoped.mkString("; ")}")
  }

  test("hints are decided only in Broadcasts; sizes and file ranges come from footers") {
    val decided = sites("broadcast(").filter { case (f, l) =>
      (f.startsWith("queries/") || f.startsWith("engine/")) && f != "engine/Broadcasts.scala" &&
        (l.contains("if (") || l.contains("else"))
    }
    assert(decided.isEmpty,
      s"a broadcast hint decided outside engine.Broadcasts: ${decided.mkString("; ")}")
    val bytes = sites("bytesOnDisk")
    assert(bytes.isEmpty,
      s"a size probe on file bytes (use Tables.rowCount): ${bytes.mkString("; ")}")
    val inSkipping = sites(".read.parquet(").filter(_._1 == "engine/FileSkipping.scala")
    assert(inSkipping.isEmpty,
      s"FileSkipping opens parquet without Tables.parquet: ${inSkipping.mkString("; ")}")
  }
}
