package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Aggregators, Tables}

/** Typed Aggregator semantics vs built-ins (partial→final merge included —
  * data is spread over multiple partitions). */
class AggregatorsSpec extends AnyFunSuite with SharedSparkSpec {

  test("WelfordMoments matches avg/var_samp on lineitem quantities") {
    import spark.implicits._
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val typedResult = li.select(col("l_quantity")).as[Double]
      .repartition(7)
      .select(new Aggregators.WelfordMoments().toColumn).head()
    val builtin = li.agg(count(lit(1)), avg("l_quantity"), var_samp(col("l_quantity"))).head
    assert(typedResult._1 == builtin.getLong(0))
    assert(math.abs(typedResult._2 - builtin.getDouble(1)) < 1e-9)
    assert(math.abs(typedResult._3 - builtin.getDouble(2)) < 1e-9)
  }

  test("TopK matches orderBy+limit per group") {
    import spark.implicits._
    val o = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val typedTop = o.select(col("o_orderkey"), col("o_totalprice")).as[(Long, Double)]
      .repartition(5)
      .groupByKey(_ => 0)
      .agg(new Aggregators.TopK(5).toColumn)
      .head()._2
    val expected = o.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(5).select("o_orderkey").collect().map(_.getLong(0)).toSeq
    assert(typedTop == expected)
  }

  test("TopK early-reject (r15) keeps tie semantics at the cutoff: (value desc, id asc)") {
    import spark.implicits._
    // engineered so a full buffer sees cutoff-EQUAL values arriving with
    // ids on both sides of the incumbent's — the exact branch the O(1)
    // reject takes; any asymmetry vs the always-sort form shows here
    val rows = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0), (4L, 5.0), (5L, 5.0),
      (6L, 5.0), (0L, 5.0), (7L, 4.0), (8L, 6.0), (9L, 5.0))
    val got = rows.toDS().repartition(3)
      .groupByKey(_ => 0).agg(new Aggregators.TopK(5).toColumn).head()._2
    val want = rows.sortBy { case (id, v) => (-v, id) }.take(5).map(_._1)
    assert(got == want && want == Seq(8L, 0L, 1L, 2L, 3L))
  }

  test("TopK ranks NaN like orderBy(value.desc, id.asc): above every number, on every path") {
    import spark.implicits._
    // a NaN that lands in a full buffer becomes its cutoff; the early-reject
    // comparison and the buffer sort must agree on where NaN ranks, or
    // every later row is rejected against (or sorted past) the wrong cutoff
    val rows = Seq((1L, 0.5), (2L, Double.NaN), (3L, 0.9), (4L, 0.1),
      (5L, Double.NaN), (6L, 0.7))
    val want = rows.toDF("id", "v").orderBy(col("v").desc, col("id").asc)
      .limit(3).select("id").as[Long].collect().toSeq
    assert(want == Seq(2L, 5L, 3L))
    for (parts <- Seq(1, 3)) {
      val got = rows.toDS().repartition(parts)
        .groupByKey(_ => 0).agg(new Aggregators.TopK(3).toColumn).head()._2
      assert(got == want, s"$parts partition(s)")
    }
    // the per-row path alone, in arrival order: NaN enters second and
    // must not reject the 0.9 that arrives behind it
    val topk = new Aggregators.TopK(2)
    val buf = Seq((1L, 0.5), (2L, Double.NaN), (3L, 0.9))
      .foldLeft(topk.zero)(topk.reduce)
    assert(topk.finish(buf) == Seq(2L, 3L))
  }
}
