package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.format.converter.ParquetMetadataConverter.{NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Typed loaders for the driver's synthetic star schema (TESTDATA.md) and
  * shared session defaults.
  *
  * Scale notes (100 TB design point):
  *  - All reads are plain parquet scans: column pruning and predicate pushdown
  *    happen in `FileSourceScanExec` for free as long as queries stay
  *    declarative (SURVEY.md §4).
  *  - At cluster scale the same loaders work over a partitioned lake layout
  *    (`.../table/year=.../part-*.parquet`); [[parquet]] on the dir picks up
  *    partition columns and Catalyst prunes partitions from `WHERE` clauses.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts has shipped as parquet TIMESTAMP(NANOS) in some data drops
    // (which Spark's vectorized reader rejects — [PARQUET_TYPE_ILLEGAL])
    // and as plain TIMESTAMP(MICROS)/NTZ in others, so the loader branches
    // on the materialized type rather than assuming either. With
    // nanosAsLong=true a nanos column arrives as LongType: floor-div to
    // micros (integer `div` — a double division would lose precision at
    // 1.7e18 ns); DuckDB's reader truncates ns→µs identically, so oracle
    // comparisons stay exact. A micros column arrives as TIMESTAMP_NTZ:
    // cast to session-TZ TIMESTAMP (identity under the UTC session default,
    // matching the instant DuckDB reads) so downstream window/unix_micros
    // logic sees one type either way.
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$sfDir/$name.parquet")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    if (name != "events") raw else raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Open the parquet table at `paths` with no Spark job: the driver reads
    * the one footer Spark's non-merging inference would (over the leaves of
    * every path, sorted by path: `_common_metadata`, else `_metadata`, else
    * the first data file; row groups skipped) and converts it with the
    * session's flags, so schema, plans and results are inference's own. No
    * cache: a table rewritten in place is seen at once. No data file:
    * `spark.read.parquet` raises Spark's error. */
  def parquet(s: SparkSession, paths: String*): DataFrame = {
    val conf = s.sessionState.newHadoopConf()
    val files = leaves(conf, paths)
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName))) match {
      case Some(f) =>
        val footer = new Footer(f.getPath,
          ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS))
        s.read.schema(ParquetFileFormat.readSchemaFromFooter(
          footer, new ParquetToSparkSchemaConverter(s.sessionState.conf))).parquet(paths: _*)
      case None => s.read.parquet(paths: _*)
    }
  }

  /** Exact row count of the parquet table at `path` with no Spark job: the
    * sum of the row-group row counts in its data files' footers. */
  def rowCount(s: SparkSession, path: String): Long =
    footers(s, path).map(_._2.getBlocks.asScala.map(_.getRowCount).sum).sum

  /** Per data file of the parquet table at `path`, sorted by path: the
    * file and the [min, max] of numeric column `column` over its row
    * groups, from footer statistics, with no Spark job. None when the
    * footer cannot bound the column (a row group with no min/max, only
    * nulls, or a non-numeric, decimal or unsigned type): such a file must
    * count as holding any value. */
  def ranges(s: SparkSession, path: String,
      column: String): Seq[(String, Option[(Double, Double)])] =
    footers(s, path).map { case (f, footer) =>
      val groups = footer.getBlocks.asScala.toSeq.map(_.getColumns.asScala
        .find(_.getPath.toDotString == column).flatMap(numericRange))
      f.getPath.toString ->
        (if (groups.nonEmpty && groups.forall(_.isDefined))
          Some((groups.flatten.map(_._1).min, groups.flatten.map(_._2).max))
        else None)
    }

  private def numericRange(c: ColumnChunkMetaData): Option[(Double, Double)] = {
    val st: Statistics[_] = c.getStatistics
    val signed = c.getPrimitiveType.getLogicalTypeAnnotation match {
      case null => true
      case i: IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    }
    if (!signed || st == null || st.isEmpty || !st.hasNonNullValue) None
    else (st.genericGetMin, st.genericGetMax) match {
      case (lo: Number, hi: Number) => Some((lo.doubleValue, hi.doubleValue))
      case _ => None
    }
  }

  /** The data files under `path` (summaries skipped) with their full
    * footers. */
  private def footers(s: SparkSession, path: String): Seq[(FileStatus, ParquetMetadata)] = {
    val conf = s.sessionState.newHadoopConf()
    leaves(conf, Seq(path)).filterNot(f => summaries.contains(f.getPath.getName))
      .map(f => f -> ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), NO_FILTER))
  }

  private val summaries = Seq("_common_metadata", "_metadata")

  /** The files Spark's file index lists under `paths`, sorted by path:
    * skips `_*` (not `_k=v` partition dirs or summaries), `.*` and
    * `*._COPYING_`. */
  private def leaves(conf: Configuration, paths: Seq[String]): Seq[FileStatus] =
    paths.flatMap { path =>
      val fs = new Path(path).getFileSystem(conf)
      def under(f: FileStatus): Seq[FileStatus] = if (!f.isDirectory) Seq(f) else
        fs.listStatus(f.getPath).toSeq.filter { c =>
          val n = c.getPath.getName
          summaries.exists(n.startsWith) || !(n.startsWith("_") && !n.contains("=") ||
            n.startsWith(".") || n.endsWith("._COPYING_"))
        }.flatMap(under)
      scala.util.Try(fs.getFileStatus(new Path(path))).toOption.toSeq.flatMap(under)
    }.sortBy(_.getPath.toString)

  /** The engine's one session factory: every main (Bench, Verify, the
    * audits, probes and demos) and the perfbench harness get their session
    * here, so a change to a default shows in every surface at once.
    * `SPARK_GRAFT_CPUS` (unset: 32) is the only input; it sets both the
    * local thread count and the shuffle partition count. AQE stays on
    * (runtime shuffle coalescing + skew-join splitting — the local
    * stand-in for what we'd rely on at 1000-executor scale).
    *
    * Codegen cache: ~200 catalog plans compile 400+ generated classes, and
    * Spark's default 100-entry class cache churns under them — a repeated
    * query shape recompiles its Janino classes on every run, and each
    * recompile reads as a GC/latency spike (Bench r4's retry path fired 11
    * times on clean plans; VERDICT r4 item 8: retried ≤ 5). A catalog-sized
    * cache keeps steady state compile-free. It is a static conf, so it only
    * takes effect on the session that starts the SparkContext. */
  def localSession(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", Scratch.localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // nanos tables (events) read as LongType from the start — not as a
      // hidden side effect of the first events load (see Tables.load)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
