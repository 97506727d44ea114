package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution

import graft.SparkEntry
import graft.engine.Tables

/** The catalog workload: a frozen list of `SparkEntry.queries`, run one
  * query at a time (function call through a noop write), in an order the
  * seed permutes on every pass.
  *
  * A traced query is split into layers:
  *  - load: the schema-inference jobs (`parquet at ...`) inside the query
  *    function;
  *  - build: the function's wall time minus load (eager jobs such as
  *    checkpoint cascades, plus plain DataFrame construction);
  *  - plan: the optimization and planning phases of the noop write's own
  *    query execution;
  *  - exec: the rest of the noop write.
  */
final class CatalogWorkload(a: Main.Args) extends Workload {
  private val names =
    if (a.rest == Seq("*")) SparkEntry.queries.keys.toSeq.sorted else a.rest
  private val MB = 1024.0 * 1024.0

  def validate(): Unit = {
    require(names.nonEmpty, s"${a.workload}: empty query list")
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"${a.workload}: listed queries missing from SparkEntry.queries: " +
      missing.mkString(", "))
  }

  private def fn(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  def setUp(spark: SparkSession): Unit =
    Tables.names.foreach(n => Tables.load(spark, a.dataDir, n).schema)

  /** Every listed query once, in name order: its output goes to parquet for
    * the oracle check, its eager (non-load) jobs are counted, and a query
    * that creates a /tmp layout is marked (the benchmark keeps its writes
    * inside its own work directory, so such a query is not listed). */
  def warmUp(spark: SparkSession): Map[String, Any] = {
    val tel = new Telemetry(spark.sparkContext)
    spark.sparkContext.addSparkListener(tel)
    val outDir = s"${a.workDir}/outputs"
    val results = names.sorted.map { name =>
      val layouts0 = Main.tmpLayouts()
      val t0 = System.nanoTime()
      val r = try {
        val (df, _) = inGroup(spark, s"warm:$name:fn")(fn(name)(spark, a.dataDir))
        val eager = tel.take(s"warm:$name:fn")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        Map("name" -> name, "ok" -> true, "eager_jobs" -> (eager.jobs - eager.loadJobs))
      } catch {
        case e: Throwable => Map("name" -> name, "ok" -> false, "error" -> Main.errorText(e))
      }
      val extra = Map("warm_s" -> Main.secs(t0),
        "tmp_layout_writes" -> (Main.tmpLayouts() != layouts0))
      Main.freeState(spark)
      r ++ extra
    }
    spark.sparkContext.removeSparkListener(tel)
    val oracles = SparkEntry.oracleSql
    Main.writeJson(s"${a.workDir}/oracle_sql.json",
      names.flatMap(n => oracles.get(n).map(n -> _)).toMap)
    Map("outputs_dir" -> outDir, "queries" -> results)
  }

  def pass(spark: SparkSession, pass: Int, traced: Boolean): PassResult = {
    val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(names)
    val loadCallS =
      if (traced) Tables.names.map { n =>
        val t0 = System.nanoTime(); Tables.load(spark, a.dataDir, n).schema; Main.secs(t0)
      }.sum
      else 0.0
    val results = order.map { name =>
      val r = if (traced) tracedQuery(spark, pass, name) else plainQuery(spark, name)
      Main.freeState(spark)
      r
    }
    PassResult(results.map(_._1), results.flatMap(_._2),
      if (traced) Map("load_call_s" -> loadCallS) else Map.empty)
  }

  private def plainQuery(spark: SparkSession, name: String): (Map[String, Any], Option[Map[String, Any]]) = {
    val t0 = System.nanoTime()
    val err = try {
      fn(name)(spark, a.dataDir).write.format("noop").mode("overwrite").save(); None
    } catch { case e: Throwable => Some(Main.errorText(e)) }
    (Map("name" -> name, "latency_s" -> Main.secs(t0), "error" -> err), None)
  }

  /** Seconds of the execution's optimization and planning phases since
    * `sinceMs`. A phase that ran more than once on the same tracker is
    * recorded from its first start, so each is clipped to the write. */
  private def planSeconds(qe: QueryExecution, sinceMs: Long): Double =
    Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .flatMap(qe.tracker.phases.get)
      .map(p => math.max(0L, p.endTimeMs - math.max(p.startTimeMs, sinceMs))).sum / 1000.0

  private def tracedQuery(spark: SparkSession, pass: Int, name: String)
      : (Map[String, Any], Option[Map[String, Any]]) = {
    val sc = spark.sparkContext
    val tel = telemetry.get
    val g = s"p$pass:$name"
    val gc0 = Main.gcSeconds(); val cg0 = Main.codegenCompiles()
    try {
      val (df, fnS) = inGroup(spark, s"$g:fn")(fn(name)(spark, a.dataDir))
      val persisted = sc.getPersistentRDDs.size
      val persistedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
      val writeStartMs = System.currentTimeMillis()
      val (_, writeS) = inGroup(spark, s"$g:exec")(df.write.format("noop").mode("overwrite").save())
      val gcS = Main.gcSeconds() - gc0
      val compiles = Main.codegenCompiles() - cg0
      val f = tel.take(s"$g:fn"); val x = tel.take(s"$g:exec")
      val qe = tel.lastExecution()
        .getOrElse(throw new IllegalStateException("no query execution reported for the write"))
      val loadS = f.loadMs / 1000.0
      val planS = planSeconds(qe, writeStartMs)
      val execS = writeS - planS
      val e2e = fnS + writeS
      val rec = Map(
        "name" -> name, "e2e_s" -> e2e,
        "fingerprint" -> Main.fingerprint(qe.executedPlan.treeString, Seq(a.dataDir)),
        "tables.load_jobs" -> f.loadJobs, "tables.load_s" -> loadS,
        "build.s" -> (fnS - loadS), "build.jobs" -> (f.jobs - f.loadJobs),
        "build.stages" -> f.stages, "build.tasks" -> f.tasks,
        "build.persisted_rdds" -> persisted, "build.persisted_mb" -> persistedMb,
        "plan.s" -> planS, "codegen.compiles" -> compiles,
        "exec.s" -> execS, "exec.jobs" -> x.jobs, "exec.stages" -> x.stages,
        "exec.tasks" -> x.tasks, "exec.task_s" -> x.runMs / 1000.0,
        "exec.cpu_s" -> x.cpuNs / 1e9,
        "exec.input_mb" -> x.inputBytes / MB,
        "exec.shuffle_write_mb" -> x.shuffleWriteBytes / MB,
        "exec.shuffle_read_mb" -> x.shuffleReadBytes / MB,
        "exec.fetch_wait_s" -> x.fetchWaitMs / 1000.0,
        "exec.spill_mb" -> x.spillBytes / MB,
        "jvm.gc_s" -> gcS)
      (Map("name" -> name, "latency_s" -> e2e, "error" -> None), Some(rec))
    } catch {
      case e: Throwable =>
        sc.clearJobGroup()
        Seq("fn", "exec").foreach(p => tel.take(s"$g:$p"))
        tel.lastExecution()
        (Map("name" -> name, "latency_s" -> 0.0, "error" -> Some(Main.errorText(e))), None)
    }
  }
}
