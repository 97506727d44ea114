package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the driver's synthetic star schema (TESTDATA.md) and
  * shared session defaults.
  *
  * Scale notes (100 TB design point):
  *  - All reads are plain parquet scans: column pruning and predicate pushdown
  *    happen in `FileSourceScanExec` for free as long as queries stay
  *    declarative (SURVEY.md §4).
  *  - At cluster scale the same loaders work over a partitioned lake layout
  *    (`.../table/year=.../part-*.parquet`); `spark.read.parquet(dir)` picks up
  *    partition columns and Catalyst prunes partitions from `WHERE` clauses.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** On-disk parquet bytes of table `name` under `sfDir` (single file or
    * directory of part-files) — the no-Spark-job size probe behind the
    * scaled-table broadcast-hint gates (the Graph.nodesCountUpperBound /
    * Similarity.embRowsUpperBound recipe, generalized). 0 for a missing
    * table, which every gate treats as "small" (hint stands — the
    * test-data layout always materializes the table it reads). */
  def bytesOnDisk(sfDir: String, name: String): Long = {
    val f = new java.io.File(sfDir, s"$name.parquet")
    if (f.isFile) f.length()
    else Option(f.listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")).map(_.length()).sum)
      .getOrElse(0L)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" =>
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
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    case _ =>
      spark.read.parquet(s"$sfDir/$name.parquet")
  }

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
