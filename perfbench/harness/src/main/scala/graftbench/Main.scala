package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.engine.{Scratch, Tables}

/** Harness entry point, started by `perfbench/run.py` in a fresh JVM per
  * workload.
  *
  * {{{
  *   graftbench.Main <workload> <seed> <passes> <trace 0|1> <dataDir>
  *                   <workDir> <setupReps> [query names...]
  * }}}
  *
  * It sets the benchmark up `setupReps` times, warms up untimed (the
  * workload's check pass, which runs every operation once and produces what
  * the output checks read, then one pass of the timed loop, because passes
  * still get faster after the check pass), then runs `passes` closed-loop
  * passes (when `trace` is 1, at least four: a quarter untraced, half
  * traced, a quarter untraced). The pass count is fixed by the caller,
  * never derived from elapsed time, so a faster or slower engine measures
  * the same passes; only host CPU steal adds passes (see [[MaxHostSteal]]).
  * Everything it measures goes to `<workDir>/result.json`; run.py turns
  * that into metrics and runs the output checks.
  */
object Main {
  final case class Args(workload: String, seed: Long, passes: Int, trace: Boolean,
                        dataDir: String, workDir: String, setupReps: Int, rest: Seq[String])

  val MaxHostSteal = 0.05

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)

  /** The plan text without expression ids and the given directories,
    * hashed: equal fingerprints mean the same physical plan shape. */
  def fingerprint(plan: String, dirs: Seq[String]): String = {
    val norm = dirs.foldLeft(plan)((p, d) => p.replace(d, "<dir>"))
      .replaceAll("#\\d+L?", "#").replaceAll("(plan_id|id)=\\d+", "$1=")
    f"${scala.util.hashing.MurmurHash3.stringHash(norm)}%08x"
  }

  /** (steal, total) CPU ticks of the machine so far, from /proc/stat; (0, 0)
    * where that is not readable. Recorded per pass: CPU time taken from
    * this VM by its host shows up as slower passes. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val t = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        (t.lift(7).getOrElse(0L), t.sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Drop what a query left cached or checkpointed, outside every timed
    * window, so the next operation starts from the same state. */
  def freeState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"
      .take(400)

  /** Top-level /tmp layout directories the engine keeps across runs, with
    * their entry counts: compared before and after a step to record whether
    * it built any. */
  def tmpLayouts(): Map[String, Int] =
    Option(new java.io.File("/tmp").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .map(f => f.getName -> Option(f.list()).map(_.length).getOrElse(0)).toMap

  private def scratchFsType(dir: String): String =
    try java.nio.file.Files.getFileStore(java.nio.file.Paths.get(dir)).`type`()
    catch { case _: Throwable => "unknown" }

  def main(argv: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    require(argv.length >= 7, "usage: Main <workload> <seed> <passes> <trace> <data> <work> <reps> [args...]")
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1", argv(4), argv(5),
      argv(6).toInt, argv.drop(7).toSeq)
    val workload: Workload = a.workload match {
      case "catalog" => new CatalogWorkload(a)
      case "f1_ingest" => new IngestWorkload(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.validate()

    val layoutsBefore = tmpLayouts()
    var spark: SparkSession = null
    val setupS = (1 to a.setupReps).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = Tables.localSession("graftbench")
      spark.sparkContext.setLogLevel("WARN")
      workload.setUp(spark)
      spark.range(1).count()
      secs(t0)
    }
    val layoutsBuilt = tmpLayouts() != layoutsBefore

    val t0 = System.nanoTime()
    val checks = workload.warmUp(spark)
    workload.pass(spark, -2, traced = false)
    val warmupS = secs(t0)

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPhase(traced: Boolean, n: Int): Unit = (1 to n).foreach { _ =>
      val pass = passes.length
      val gc0 = gcSeconds(); val cg0 = codegenCompiles(); val (st0, tot0) = cpuTicks()
      val p0 = System.nanoTime()
      val r = workload.pass(spark, pass, traced)
      val wall = secs(p0)
      val (st1, tot1) = cpuTicks()
      val steal = if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "gc_s" -> (gcSeconds() - gc0), "codegen_compiles" -> (codegenCompiles() - cg0),
        "host_steal_frac" -> steal) ++ r.extra
      ops ++= r.ops.map(_ ++ Map("pass" -> pass, "traced" -> traced))
      records ++= r.records.map(_ ++ Map("pass" -> pass))
    }
    if (a.trace) {
      // Untraced, traced, traced, untraced: a warm-up trend that is linear
      // over the passes cancels out of the traced-minus-untraced overhead.
      val n = math.max(1, a.passes / 4)
      val telemetry = new Telemetry(spark.sparkContext)
      workload.telemetry = Some(telemetry)
      runPhase(traced = false, n)
      spark.sparkContext.addSparkListener(telemetry)
      spark.listenerManager.register(telemetry.executions)
      runPhase(traced = true, 2 * n)
      spark.sparkContext.removeSparkListener(telemetry)
      spark.listenerManager.unregister(telemetry.executions)
      runPhase(traced = false, n)
    } else {
      runPhase(traced = false, a.passes)
      // A pass during which the host took more than MaxHostSteal of the
      // machine's CPU time measures the host as much as the engine: run up
      // to `passes` more until `passes` passes stayed under it. run.py
      // reports the `passes` passes with the least steal.
      def calm = passes.count(_("host_steal_frac").asInstanceOf[Double] <= MaxHostSteal)
      var extra = 0
      while (calm < a.passes && extra < a.passes) { runPhase(traced = false, 1); extra += 1 }
    }

    val env = Map(
      "seed" -> a.seed,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version,
      "scratch_local_dir" -> Scratch.localDir,
      "scratch_fs" -> scratchFsType(Scratch.localDir),
      "tmp_layouts_built_in_setup" -> layoutsBuilt,
      "codegen_cache_max_entries" ->
        spark.conf.getOption("spark.sql.codegen.cache.maxEntries").getOrElse("default (100)"))
    writeJson(s"${a.workDir}/result.json", Map(
      "workload" -> a.workload,
      "main_epoch_ms" -> mainEpochMs,
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "checks" -> checks,
      "passes" -> passes,
      "ops" -> ops,
      "records" -> records,
      "env" -> env))
    spark.stop()
  }
}

/** What one pass returns: per-operation latencies, per-layer records
  * (traced passes only) and pass-level extras. */
final case class PassResult(ops: Seq[Map[String, Any]], records: Seq[Map[String, Any]],
                            extra: Map[String, Any] = Map.empty)

trait Workload {
  var telemetry: Option[Telemetry] = None
  /** Fail before any Spark work if the workload's inputs are inconsistent. */
  def validate(): Unit
  /** Untimed per-session set-up work (repeated with the session). */
  def setUp(spark: SparkSession): Unit
  /** Untimed check pass, which also warms up: every operation once, with
    * what the output checks need written out; returns where it is. */
  def warmUp(spark: SparkSession): Map[String, Any]
  def pass(spark: SparkSession, pass: Int, traced: Boolean): PassResult

  /** Run `body` under job group `group` and return its wall seconds. */
  protected def inGroup[T](spark: SparkSession, group: String)(body: => T): (T, Double) = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try { val r = body; (r, Main.secs(t0)) }
    finally spark.sparkContext.clearJobGroup()
  }
}
