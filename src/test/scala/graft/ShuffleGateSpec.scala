package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Tables, Telemetry}

/** Shuffle-volume REGRESSION GATE (VERDICT r6 item 8): SHUFFLE.md is a
  * snapshot, this is the tripwire. For a pinned subset of relational
  * queries at sf0.01, the ABSOLUTE shuffle-write volume must stay under an
  * upper bound — the class of regression plan-shape tests cannot see
  * (a plan can keep the "right" operators and still shuffle everything,
  * e.g. when an edit un-broadcasts a join). Bounds are pinned 5-10× above
  * the measured volumes (headroom for testdata regeneration jitter) and
  * 2-3 orders of magnitude below what the broken-broadcast shape produces
  * — the negative-control test proves the gate actually trips there.
  * Absolute bytes, not the shuffle:input ratio SHUFFLE.md reports at
  * sf0.1: at sf0.01 the input denominator is footer-dominated (column-
  * pruned scans of ~1 MB files read a few KB), which would make a ratio
  * gate an artifact detector. Volumes are data-byte counts, not timings:
  * stable under load, no flake surface. Measured on the shared local[4]
  * test session by `Telemetry.during`, which counts the measured call's
  * job group only (suites share the session and run in parallel).
  */
class ShuffleGateSpec extends AnyFunSuite with SharedSparkSpec {
  private val d = "/root/testdata/sf0.01"

  private def measure(df: => org.apache.spark.sql.DataFrame): Telemetry.Run = {
    val v = Telemetry.during(spark)(df.write.format("noop").mode("overwrite").save())
    spark.sharedState.cacheManager.clearCache()
    v
  }

  // query → max shuffle-write MB at sf0.01 (local[4]). An entry here is a
  // CONTRACT: raising a bound needs the same justification as relaxing a
  // plan assert. Measured r7 volumes in trailing comments.
  private val bounds: Seq[(String, Double)] = Seq(
    "q1_agg" -> 0.01,             // 0.001 — partial agg, 6 groups cross the wire
    "a7_multiagg" -> 0.02,        // 0.002 — partial agg, 15 groups
    "o4_topk" -> 0.005,           // 0.000 — TakeOrderedAndProject, no exchange
    "j1_join_broadcast" -> 0.01,  // 0.001 — dims broadcast; only the agg shuffles
    "q5_region_volume" -> 0.01,   // 0.001 — 5-way join, every dim side broadcast
    "j3_join_semi" -> 0.15,       // 0.025 — broadcast left-semi + projection
    "j2_join_left" -> 1.0,        // 0.249 — fact-to-fact shuffle join (expected)
    "q18_large_orders" -> 0.5,    // 0.108 — groupBy orderkey shuffles the fact
    "q10_returned_revenue" -> 0.05, // 0.010 — filters first, then narrow agg
    "dd_exact" -> 0.1,            // 0.023 — (hash, id) pairs only
    "p6_range" -> 1.0             // 0.226 — range-partition sort of the filtered rows
  )

  test("pinned relational queries stay under their shuffle:input ratio bounds") {
    for ((name, bound) <- bounds) {
      val v = measure(SparkEntry.queries(name)(spark, d))
      val (in, shuffleW) = (Telemetry.mb(v.inputBytes), Telemetry.mb(v.shuffleWriteBytes))
      info(f"$name%-20s in=$in%8.3f MB shuffleW=$shuffleW%8.3f MB (bound $bound MB)")
      assert(in > 0, s"$name read nothing — measurement broken")
      assert(shuffleW <= bound,
        s"$name shuffled $shuffleW MB, over the pinned ${bound} MB — " +
          "a join lost its broadcast or an aggregation lost its partial step")
      assert(v.spillBytes == 0L, s"$name spilled ${Telemetry.mb(v.spillBytes)} MB to disk")
    }
  }

  test("negative control: the gate trips when the q5 join shape loses its broadcasts") {
    // q5's 5-way join with broadcasting disabled entirely: every dim side
    // shuffles next to lineitem — the exact regression the bounds exist to
    // catch. If this stops tripping, the gate is measuring nothing.
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val li = Tables.load(spark, d, "lineitem")
      val o = Tables.load(spark, d, "orders")
      val c = Tables.load(spark, d, "customer")
      val s = Tables.load(spark, d, "supplier")
      val n = Tables.load(spark, d, "nation")
      val broken = li
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(s, li("l_suppkey") === s("s_suppkey") && c("c_nationkey") === s("s_nationkey"))
        .join(n, s("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      val v = measure(broken)
      val (in, shuffleW) = (Telemetry.mb(v.inputBytes), Telemetry.mb(v.shuffleWriteBytes))
      info(f"broken-broadcast q5 shape: in=$in%8.3f MB shuffleW=$shuffleW%8.3f MB")
      val bound = bounds.toMap.apply("q5_region_volume")
      assert(shuffleW > bound,
        s"un-broadcast 5-way join shuffled $shuffleW MB, NOT over the $bound MB gate — gate is toothless")
    } finally {
      def restore(key: String, v: Option[String]): Unit =
        v match { case Some(x) => conf.set(key, x); case None => conf.unset(key) }
      restore("spark.sql.autoBroadcastJoinThreshold", prev)
      restore("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }
}
