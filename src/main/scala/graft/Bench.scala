package graft

import graft.engine.Materialize

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and prints
  * per-query JSON plus a FINAL short self-contained totals line.
  *
  * Each query is materialized through the `noop` sink — a count() would let
  * column pruning skip the projected expressions entirely (a projection
  * benchmark that never computes the projection). Queries run in sorted name
  * order; JVM/codegen warmup is amortized by a single untimed warmup query.
  *
  * Output protocol (the driver keeps the TAIL of stdout, ~2 KB):
  *   line 1: the full per-query JSON (large — may be truncated at the front)
  *   line 2 (LAST): a ≤120-char self-contained totals line
  *     {"metric":"total","value":S,"unit":"sec","cold_total":C,"n":N,"retried":K}
  *   so any tail capture always contains one complete parseable JSON object.
  *
  * Outlier handling: round 1/2 both showed sporadic in-bench inflation
  * (a query reading 3–36× its isolated time while its plan is clean —
  * GC storm / codegen-cache churn across ~200 compiled plans). If a warm
  * run exceeds max(2 s, 3× the running median of warm times), we clear
  * caches, System.gc(), and re-run once, reporting the min of the two —
  * the steady-state number the plan actually earns. Retried names and
  * per-query gc/codegen-compile deltas are written to bench_detail.json
  * (a file, NOT stdout — stderr proved invisible to the driver in round 2).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    val spark = graft.engine.Tables.localSession("graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Materialize.release after every run (the warm run must not reuse the
    // query's own caches either). Without it the dead checkpoint blocks of
    // the iterative queries accumulate into eviction churn that read as
    // inflated cold AND warm times (r6: dd_clusters 7.7 s in-bench vs 3.2 s
    // isolated, graph_triangles 7.7 vs 3.8 — QProbe, 5 runs), and a
    // non-blocking unpersist let the next timed run race the removal (r7:
    // 2-5× spikes on the cache-heavy st_*, emb_* queries).

    // untimed warmup: JVM + parquet footer reads + codegen paths
    try run("q1_agg") catch { case _: Throwable => () }

    import java.util.Locale
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // cumulative count of Janino compilations (codegen) across the JVM —
    // the histogram's time values live in a decaying reservoir (not a
    // counter), so the monotone compile COUNT is the usable delta signal
    def codegenCompiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    final case class QRes(name: String, cold: Double, warm: Double,
                          gcColdMs: Long, gcWarmMs: Long, cgWarmCompiles: Long, retried: Boolean,
                          startSec: Double)

    // wall-clock origin for per-query start offsets (VERDICT r13 #6): a
    // host-noise wave hits a CONTIGUOUS time band; with each query's start
    // offset in bench_detail.json the band is read directly from
    // timestamps instead of inferred from alphabetical adjacency
    val benchT0 = System.nanoTime()
    val warmTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runningMedian(): Double =
      if (warmTimes.isEmpty) Double.MaxValue
      else { val s = warmTimes.sorted; s(s.length / 2) }

    var sinceGc = 0
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      // Periodic untimed full GC: across ~250 queries the heap accumulates
      // dead broadcast/codegen/block-manager tenured garbage faster than
      // G1's concurrent cycle retires it on a busy machine; the resulting
      // mid-query mixed collections land on whichever query is running
      // (the r6/r7 in-bench inflation class). Collecting every 16 queries
      // BETWEEN timed runs bounds that drift without touching any
      // measurement window.
      sinceGc += 1
      if (sinceGc >= 16) { System.gc(); sinceGc = 0 }
      val startSec = (System.nanoTime() - benchT0) / 1e9
      def timed(): Double = {
        val t0 = System.nanoTime()
        try run(name) catch { case e: Throwable => System.err.println(s"BENCH FAIL $name: $e") }
        (System.nanoTime() - t0) / 1e9
      }
      val gc0 = gcMillis()
      val cold = timed()
      Materialize.release(spark)
      val gc1 = gcMillis(); val cg1 = codegenCompiles()
      var warm = timed()
      Materialize.release(spark)
      val gc2 = gcMillis(); val cg2 = codegenCompiles()
      // Inflation guard: a warm run reading far above the catalog median AND
      // above its OWN cold run is a JVM-state artifact (GC storm, codegen
      // churn), not the plan — re-measure once and keep the min. The own-cold
      // test is what r5's guard lacked: a genuinely expensive iterative query
      // (dd_clusters, warm ≈ cold ≈ 3.5 s) tripped the absolute 2 s bar on
      // EVERY bench, burning a pointless retry and reporting as instability
      // (13 "retried" vs the ≤5 target, none of them actual artifacts).
      // The second clause (warm > 2× threshold) catches what r6 showed the
      // first cannot: when the JVM-state artifact inflates cold AND warm
      // together (dd_clusters cold 14.4 s / warm 7.7 s in-bench, vs 3.2 s
      // median isolated — QProbe, 5 runs), warm stays below 1.3×cold and the
      // guard never fired. A warm run at double the catalog-relative bar is
      // artifact regardless of what its own cold run did.
      val threshold = math.max(2.0, 3.0 * runningMedian())
      val retried = (warm > threshold && warm > 1.3 * cold) || warm > 2.0 * threshold
      if (retried) {
        System.gc()
        val again = timed()
        Materialize.release(spark)
        System.err.println(f"[bench] RETRY $name%-24s first=$warm%8.3fs retry=$again%8.3fs")
        warm = math.min(warm, again)
      }
      warmTimes += warm
      System.err.println(f"[bench] $name%-28s cold=$cold%8.3fs (gc=${gc1 - gc0}%5dms) warm=$warm%8.3fs (gc=${gc2 - gc1}%5dms)")
      QRes(name, cold, warm, gc1 - gc0, gc2 - gc1, cg2 - cg1, retried, startSec)
    }

    def ms(x: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(x))
    val qs = results.map(r => "\"" + r.name + "\":" + ms(r.warm)).mkString("{", ",", "}")
    val retriedNames = results.filter(_.retried).map(_.name)
    val total = results.map(_.warm).sum
    val coldTotal = results.map(_.cold).sum

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
      val worst = results.sortBy(-_.warm).take(5)
      val detail = new StringBuilder
      detail ++= "{\n  \"retried\": ["
      detail ++= retriedNames.map("\"" + _ + "\"").mkString(",")
      detail ++= "],\n  \"budget_flags\": ["
      detail ++= budgetFlags.map("\"" + _ + "\"").mkString(",")
      detail ++= s"],\n  \"budget_window_inflation\": ${ms(budgetInflation)},"
      detail ++= s"\n  \"budget_window_inflation_raw\": ${ms(budgetInflationRaw)},"
      detail ++= "\n  \"worst5\": [\n"
      detail ++= worst.map(r =>
        s"""    {"name":"${r.name}","warm":${ms(r.warm)},"cold":${ms(r.cold)},"gcWarmMs":${r.gcWarmMs},"codegenWarmCompiles":${r.cgWarmCompiles}}"""
      ).mkString(",\n")
      detail ++= "\n  ],\n  \"queries\": [\n"
      detail ++= results.map(r =>
        s"""    {"name":"${r.name}","startSec":${ms(r.startSec)},"cold":${ms(r.cold)},"warm":${ms(r.warm)},"gcColdMs":${r.gcColdMs},"gcWarmMs":${r.gcWarmMs},"codegenWarmCompiles":${r.cgWarmCompiles},"retried":${r.retried}}"""
      ).mkString(",\n")
      detail ++= "\n  ]\n}\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.toString.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }

    // Full line first (humans / detail), short self-contained line LAST —
    // the driver's tail capture must always end on a complete JSON object.
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","cold_total":${ms(coldTotal)},"sf":"$sfDir","retried":[${retriedNames.map("\"" + _ + "\"").mkString(",")}],"budget_flags":[${budgetFlags.map("\"" + _ + "\"").mkString(",")}],"budget_window_inflation":${ms(budgetInflation)},"budget_window_inflation_raw":${ms(budgetInflationRaw)},"queries":$qs}""")
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","cold_total":${ms(coldTotal)},"n":${results.size},"retried":${retriedNames.size}}""")
    spark.stop()
  }
}
