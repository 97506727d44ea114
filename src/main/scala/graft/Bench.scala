package graft

import org.apache.spark.sql.SparkSession

import graft.engine.{Materialize, Telemetry}

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and prints
  * per-query JSON plus a FINAL short self-contained totals line.
  *
  * Each query is materialized through the `noop` sink — a count() would let
  * column pruning skip the projected expressions entirely (a projection
  * benchmark that never computes the projection). JVM/codegen warmup is
  * amortized by a single untimed warmup query.
  *
  * Passes: one cold pass, then three warm passes, each over every query in
  * sorted name order. A query's `warm` is the median of its three warm
  * runs, so a wave of host noise, which hits a contiguous time band, lands
  * in at most one of them. Every run is measured by `Telemetry.during`
  * (its barrier is outside the timed window) and followed by
  * `Materialize.release`.
  *
  * Output protocol (the driver keeps the TAIL of stdout, ~2 KB):
  *   line 1: the full per-query JSON (large — may be truncated at the front)
  *   line 2 (LAST): a ≤120-char self-contained totals line
  *     {"metric":"total","value":S,"unit":"sec","cold_total":C,"n":N}
  *   so any tail capture always contains one complete parseable JSON object.
  * Per-query warm min/max, gc/codegen-compile deltas and the jobs, stages,
  * tasks and byte volumes of the first warm pass go to bench_detail.json
  * (a file, NOT stdout — stderr proved invisible to the driver in round 2).
  */
object Bench {

  /** One run of catalog query `name` through the noop sink: its wall
    * seconds and what its jobs did. A failing query is reported on stderr
    * and measured as far as it got. Ends with `Materialize.release`:
    * without it the dead checkpoint blocks of the iterative queries
    * accumulate into eviction churn that read as inflated times (r6:
    * dd_clusters 7.7 s in-bench vs 3.2 s isolated), and a non-blocking
    * unpersist let the next timed run race the removal (r7: 2-5× spikes on
    * the cache-heavy st_*, emb_* queries). */
  def runOnce(spark: SparkSession, sfDir: String, name: String): (Double, Telemetry.Run) = {
    var secs = 0.0
    val run = Telemetry.during(spark) {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"BENCH FAIL $name: $e") }
      secs = (System.nanoTime() - t0) / 1e9
    }
    Materialize.release(spark)
    (secs, run)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    val spark = graft.engine.Tables.localSession("graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // untimed warmup: JVM + parquet footer reads + codegen paths
    runOnce(spark, sfDir, "q1_agg")

    import java.util.Locale
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // cumulative count of Janino compilations (codegen) across the JVM —
    // the histogram's time values live in a decaying reservoir (not a
    // counter), so the monotone compile COUNT is the usable delta signal
    def codegenCompiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    final case class Sample(secs: Double, run: Telemetry.Run, gcMs: Long, compiles: Long)
    final case class QRes(name: String, cold: Sample, warms: Seq[Sample]) {
      val warm: Double = warms.map(_.secs).sorted.apply(warms.size / 2)
    }

    val names = SparkEntry.queries.keys.toSeq.sorted
    var sinceGc = 0
    def pass(label: String): Seq[Sample] = names.map { name =>
      // Periodic untimed full GC: across ~250 queries the heap accumulates
      // dead broadcast/codegen/block-manager tenured garbage faster than
      // G1's concurrent cycle retires it on a busy machine; the resulting
      // mid-query mixed collections land on whichever query is running
      // (the r6/r7 in-bench inflation class). Collecting every 16 queries
      // BETWEEN timed runs bounds that drift without touching any
      // measurement window.
      sinceGc += 1
      if (sinceGc >= 16) { System.gc(); sinceGc = 0 }
      val gc0 = gcMillis(); val cg0 = codegenCompiles()
      val (secs, run) = runOnce(spark, sfDir, name)
      val sample = Sample(secs, run, gcMillis() - gc0, codegenCompiles() - cg0)
      System.err.println(f"[bench] $label%-5s $name%-28s $secs%8.3fs (gc=${sample.gcMs}%5dms)")
      sample
    }
    val cold = pass("cold")
    val warms = Seq("warm1", "warm2", "warm3").map(pass)
    val results = names.indices.map(i => QRes(names(i), cold(i), warms.map(_(i))))

    def ms(x: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(x))
    val qs = results.map(r => "\"" + r.name + "\":" + ms(r.warm)).mkString("{", ",", "}")
    val total = results.map(_.warm).sum
    val coldTotal = results.map(_.cold.secs).sum

    // PER-QUERY REGRESSION GUARD (VERDICT r12 #6): the r12 heap/tmpfs fix
    // made per-query warm times trustworthy for the first time — freeze
    // them. BENCH_BUDGET.json carries each query's committed quiet-window
    // warm time at the graded sf; regressions are flagged in the output
    // JSON ("budget_flags") and in bench_detail.json, so a plan
    // regression can never hide behind the retired "host noise"
    // adjudication again. The flag rule is WINDOW-CALIBRATED (measured
    // r13: a globally 1.16×-inflated window flagged 35 unchanged queries
    // under a naive fixed 1.5× — absolute barrier-stall noise hits small
    // queries as big ratios): the run's median warm/budget ratio over
    // all budgeted queries estimates the window's inflation (clamped
    // ≥1 so a fast window never hides a regression), and a query flags
    // only when it exceeds BOTH 1.5× its inflation-adjusted budget AND
    // a 0.75 s absolute excess (the scale a plan regression at sf0.1
    // actually shows; both committed r13 runs flag zero, while the one
    // observed 2.7× in-bench transient still trips it). Budgets are
    // sf-specific: the guard arms only when this run's sf matches the
    // file's "_sf"; new queries without a row pass silently until the
    // next regeneration (tools/make_budget.py).
    val BudgetFactor = 1.5
    val BudgetExcessSec = 0.75
    // widest window inflation attributable to host noise (r13 measured
    // ≤1.16× across three regimes); a median ratio past this is treated
    // as a broad engine regression, not absorbed into adjusted budgets
    val BudgetInflationCap = 1.3
    var budgetInflation = 1.0
    var budgetInflationRaw = 1.0
    val budgetFlags: Seq[String] = try {
      val bp = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "BENCH_BUDGET.json"))
      if (!java.nio.file.Files.exists(bp)) Seq.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(bp), "UTF-8")
        val kv = """"([A-Za-z0-9_]+)"\s*:\s*([0-9][0-9.]*)""".r
        val sfRe = """"_sf"\s*:\s*"([^"]+)"""".r
        val budgetSf = sfRe.findFirstMatchIn(txt).map(_.group(1))
        if (!budgetSf.contains(sfDir)) Seq.empty
        else {
          val budgets = kv.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filterNot(_._1.startsWith("_")).toMap
          val ratios = results.flatMap(r => budgets.get(r.name).map(r.warm / _))
          if (ratios.nonEmpty) {
            val s = ratios.sorted
            // CAP the window-inflation estimate (ADVICE r13): the median
            // ratio models HOST noise, which the r13 window put at ≤1.16×;
            // an engine-wide plan regression ALSO raises the median, and
            // an uncapped estimate would adjust every budget up by the
            // regression itself — a uniform 2× slowdown flagging zero
            // queries. Past the cap the excess is, by construction, not
            // window noise — surface it as its own loud signal instead of
            // absorbing it into the budgets.
            budgetInflationRaw = math.max(1.0, s(s.length / 2))
            budgetInflation = math.min(budgetInflationRaw, BudgetInflationCap)
            if (budgetInflationRaw > BudgetInflationCap)
              System.err.println(f"[bench] BROAD REGRESSION? median warm/budget $budgetInflationRaw%.3fx exceeds the ${BudgetInflationCap}x window cap — per-query flags below use the capped window")
          }
          results.flatMap { r =>
            budgets.get(r.name).map(_ * budgetInflation).filter(b =>
              r.warm > math.max(0.5, BudgetFactor * b) &&
                r.warm - b > BudgetExcessSec).map { b =>
              System.err.println(
                f"[bench] BUDGET ${r.name}%-28s warm=${r.warm}%8.3fs adj-budget=$b%8.3fs (${r.warm / b}%4.2fx)")
              r.name
            }
          }
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] budget check failed: $e"); Seq.empty }

    // bench_detail.json: full per-query diagnostics + worst-5 breakdown.
    // Written to a file so it survives regardless of what stdout capture keeps.
    try {
      def record(r: QRes): String = {
        val w = r.warms.head; val v = w.run
        s""""name":"${r.name}","cold":${ms(r.cold.secs)},"warm":${ms(r.warm)},""" +
          s""""warm_min":${ms(r.warms.map(_.secs).min)},"warm_max":${ms(r.warms.map(_.secs).max)},""" +
          s""""gcColdMs":${r.cold.gcMs},"gcWarmMs":${w.gcMs},"codegenWarmCompiles":${w.compiles},""" +
          s""""jobs":${v.jobs},"stages":${v.stages},"tasks":${v.tasks},""" +
          s""""input_mb":${ms(Telemetry.mb(v.inputBytes))},"shuffle_write_mb":${ms(Telemetry.mb(v.shuffleWriteBytes))},""" +
          s""""shuffle_read_mb":${ms(Telemetry.mb(v.shuffleReadBytes))},"spill_mb":${ms(Telemetry.mb(v.spillBytes))}"""
      }
      val detail = new StringBuilder
      detail ++= "{\n  \"budget_flags\": ["
      detail ++= budgetFlags.map("\"" + _ + "\"").mkString(",")
      detail ++= s"],\n  \"budget_window_inflation\": ${ms(budgetInflation)},"
      detail ++= s"\n  \"budget_window_inflation_raw\": ${ms(budgetInflationRaw)},"
      detail ++= "\n  \"worst5\": [\n"
      detail ++= results.sortBy(-_.warm).take(5).map(r => "    {" + record(r) + "}").mkString(",\n")
      detail ++= "\n  ],\n  \"queries\": [\n"
      detail ++= results.map(r => "    {" + record(r) + "}").mkString(",\n")
      detail ++= "\n  ]\n}\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.toString.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }

    // Full line first (humans / detail), short self-contained line LAST —
    // the driver's tail capture must always end on a complete JSON object.
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","cold_total":${ms(coldTotal)},"sf":"$sfDir","budget_flags":[${budgetFlags.map("\"" + _ + "\"").mkString(",")}],"budget_window_inflation":${ms(budgetInflation)},"budget_window_inflation_raw":${ms(budgetInflationRaw)},"queries":$qs}""")
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","cold_total":${ms(coldTotal)},"n":${results.size}}""")
    spark.stop()
  }
}
