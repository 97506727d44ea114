package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Telemetry

/** Job-count pins for the two iterative queries of the perfbench catalog
  * workload, whose time is mostly the fixed cost of each Spark job.
  *
  * Job counts vary between identical runs (AQE decides per run whether a
  * stage reuses or coalesces), so each pin is a RANGE: every one of
  * `runs` warm runs must stay at or below a bound set to the maximum
  * observed over at least 10 runs plus the stated headroom. A change that
  * brings back a per-round counter join, an unhinted survivor set or a
  * distributed pairwise-similarity step overshoots it.
  *
  * Measured maxima and the bounds derived from them are in the tests. */
class IterativeJobsSpec extends AnyFunSuite with SharedSparkSpec {
  private val runs = 10

  /** Job counts of `runs` warm runs of `body`, after one untimed run that
    * publishes the query's /tmp layouts. */
  private def counts(body: => Unit): Seq[Int] = {
    body
    (1 to runs).map(_ => Telemetry.during(spark)(body).jobs)
  }

  test("graph_kcore: function + noop write runs at most 17 jobs (sf0.01)") {
    // sf0.01, not sf0.001: at sf0.001 the 30-core is empty after round 1
    // and AQE prunes the empty rounds' stages, so the shape of the loop
    // barely shows (12 jobs; the five-counter-join shape ran 13).
    // Measured 15-15 over 30 runs; headroom +2. The five-counter-join
    // shape with unhinted survivor joins ran 35-39 here, and dropping
    // only the broadcast puts about 8 jobs back.
    val n = counts(SparkEntry.queries("graph_kcore")(spark, "/root/testdata/sf0.01")
      .write.format("noop").mode("overwrite").save())
    info(s"graph_kcore jobs over $runs runs: ${n.min}-${n.max}")
    assert(n.max <= 17, s"graph_kcore ran ${n.mkString(",")} jobs")
  }

  test("sim_mmr_diversify: the function runs at most 2 jobs and caches nothing") {
    // sf0.001; measured 2-2 over 30 runs: the query-vector collect and
    // the shortlist collect; the 190 pairwise similarities are folded
    // into a local relation by the optimizer. No headroom: a third job is
    // a distributed step coming back (the broadcast-crossJoin shortlist
    // with a cached 20×20 self-join ran 3 here).
    spark.sharedState.cacheManager.clearCache()
    val n = counts(SparkEntry.queries("sim_mmr_diversify")(spark, "/root/testdata/sf0.001"))
    info(s"sim_mmr_diversify function jobs over $runs runs: ${n.min}-${n.max}")
    assert(n.max <= 2, s"sim_mmr_diversify ran ${n.mkString(",")} jobs")
    assert(spark.sharedState.cacheManager.isEmpty, "sim_mmr_diversify left a cached frame behind")
  }
}
