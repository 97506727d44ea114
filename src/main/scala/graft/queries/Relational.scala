package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Broadcasts, FixedPoint => FP, Materialize}
import graft.engine.Broadcasts.hint
import graft.engine.Tables.{load => t}

/** Core relational operator catalog — SURVEY.md §2.2 (projections/filters),
  * §2.3 (joins), §2.4 (aggregations), §2.5 (windows), §2.6 (sorts/limits),
  * §2.7 (set ops) — re-expressed over the synthetic star schema
  * (FIXTURES.md §B operator→table assignment).
  *
  * Conventions shared with the DuckDB oracles:
  *  - every query ends in an ORDER BY over a unique key (hash-stable output);
  *  - every floating aggregate is `round(x, 4)` on both sides (sum order over
  *    doubles is partition-order-dependent in any parallel engine);
  *  - derived integer columns are cast to BIGINT on both sides (DuckDB widens
  *    `year()`, `rank()`, `len()` to BIGINT; Spark defaults to INT).
  *
  * Scale notes are attached per query: what the plan must look like at 100 TB
  * (broadcast vs sort-merge, where the shuffles are, what gets pushed down).
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame
  private def r4(c: Column) = round(c, 4)

  /** Broadcast-hint gate for SCALED join sides (the relational edition of
    * Graph.nodeHintGate / Similarity.embHintGate): TPC-H customer /
    * supplier / part GROW with scale factor, so a hint on them, or on a
    * frame derived from one (supplier⋈nation, a p_type slice), routes
    * through [[Broadcasts.fits]] on the BASE table's exact row count
    * against [[Broadcasts.TableRows]]. Below it the hint stands (the
    * star-join shape every TPC-H plan wants at bench scale —
    * PlanDriftSpec's fingerprints are taken below the gate). nation (25
    * rows) and region (5) are constant at EVERY scale factor per the
    * TPC-H spec, so their hints stay unconditional, as do 1-row /
    * group-count-sized aggregate frames. PlanQualitySpec pins both shapes
    * and gate-independent results on the q3 representative. */
  private[graft] def scaledHintOn(s: SparkSession, d: String, table: String): Boolean =
    Broadcasts.fits(s, s"$d/$table.parquet", Broadcasts.TableRows)

  /** q3_shipping_priority at an explicit gate decision (the
    * Graph.rankConvergedAt precedent) — the representative PlanQualitySpec
    * pins both shapes on: `hinted` routes the filtered-customer hint. */
  private[graft] def q3At(s: SparkSession, d: String, hinted: Boolean): DataFrame = {
    val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, d, "orders")
    val l = t(s, d, "lineitem")
    val ch = hint(hinted)(c)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(ch, o("o_custkey") === c("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(FP.qsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 20), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** Global row numbers WITHOUT a single-partition Window — the two-level
    * scheme shared by w3_every_kth and agg_hist_equidepth: range-repartition
    * on the sort key, per-partition local row numbers decoded from
    * monotonically_increasing_id (partition id in the high bits, record
    * index in the low 33), then partition offsets from a broadcast
    * prefix-sum over the tiny per-partition count table. Appends `rn`
    * (1-based, total order over sortCols). One definition so the id-layout
    * decode and the offsets join cannot drift between the two queries. */
  private def withGlobalRowNumbers(df: DataFrame, sortCols: Column*): DataFrame = {
    val local = df
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("pid", shiftright(col("__mid"), 33))
      .withColumn("lrn", col("__mid") - shiftleft(col("pid"), 33) + 1)
    val cnts = local.groupBy("pid").agg(count(lit(1)).as("cnt"))
    val offsets = cnts
      .join(cnts.select(col("pid").as("ppid"), col("cnt").as("pcnt")),
        col("ppid") < col("pid"), "left")
      .groupBy("pid").agg(coalesce(sum("pcnt"), lit(0L)).as("offset"))
    local.join(broadcast(offsets), "pid")
      .withColumn("rn", col("lrn") + col("offset"))
  }

  /** Per-group ranks / running sums without low-cardinality Windows live
    * in [[TwoLevel]] (shared with Temporal's sweep-line face). */
  private def withGroupRowNumbers(df: DataFrame, group: Column,
                                  ord: Column*): DataFrame =
    TwoLevel.groupRowNumbers(df, group, ord: _*)

  val queries: Map[String, Q] = Map(
    // ---- flagship: TPC-H-Q1-shaped scan→filter→agg→sort (SURVEY §7.3).
    // One shuffle (partial→final hash agg); filter + 7-column projection reach
    // the parquet scan. 6 groups at any SF → final agg is trivially small.
    "q1_agg" -> ((s, d) => {
      val l = t(s, d, "lineitem")
      l.filter(col("l_quantity") > 0)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // sum_qty/avg_qty stay plain: quantities are integer-valued, so
          // their double sums are exact at any merge order. The price sums
          // fold through fixed-point BIGINTs (bits=20 for 1e5-magnitude
          // values) — the r5 margin audit caught sum_charge 29 ulps from a
          // rounding boundary, i.e. one shuffle-order ulp from a hash flake.
          r4(sum("l_quantity")).as("sum_qty"),
          r4(FP.qsum(col("l_extendedprice"), 20)).as("sum_base_price"),
          r4(FP.qsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 20)).as("sum_disc_price"),
          r4(FP.qsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 20)).as("sum_charge"),
          r4(avg("l_quantity")).as("avg_qty"),
          r4(FP.qmean(col("l_extendedprice"), 20)).as("avg_price"),
          r4(FP.qmean(col("l_discount"), 30)).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- TPC-H-Q3 shape: selective join + agg + top-10 by revenue.
    "q3_shipping_priority" -> ((s, d) => q3At(s, d, scaledHintOn(s, d, "customer"))),

    // ---- TPC-H-Q6 shape: pure scan-side filter + single global aggregate.
    "q6_forecast_revenue" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(FP.qsum(col("l_extendedprice") * col("l_discount"), 20), 4).as("revenue"),
             count(lit(1)).as("n"))),

    // ---- TPC-H-Q5 shape: 6-way star join, revenue per nation inside one
    // region + date range. Scale shape: the two FACTS (lineitem⋈orders,
    // then ⋈customer) shuffle on their join keys — customer is NOT
    // broadcast, at 100 TB it's a fact-sized table; supplier/nation/region
    // broadcast, and the region filter prunes nation rows BEFORE the
    // broadcast so the build side carries only the surviving region's
    // nations. The date range reaches the orders scan (PushedFilters).
    "q5_region_volume" -> ((s, d) => {
      val region = t(s, d, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, d, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      val sup = t(s, d, "supplier")
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1999-01-01")
      val li = t(s, d, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(hint(scaledHintOn(s, d, "supplier"))(sup),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(r4(FP.qsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 20)).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ---- deterministic MODE per group: most frequent o_orderpriority per
    // order status, ties broken to the smallest value — built-in mode()
    // functions leave tie order engine-defined, so the catalog form is the
    // explicit two-phase shape: count per (status, priority) collapses in
    // partial aggregation (25 groups survive the shuffle at ANY scale),
    // then a row_number over the tiny grouped frame picks the argmax.
    "agg_mode" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderstatus")
            .orderBy(col("cnt").desc, col("o_orderpriority").asc)))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
                col("cnt"))
        .orderBy("o_orderstatus")),

    // ---- TPC-H-Q18 shape: large-volume orders via an AGGREGATED semi
    // filter — the grouped lineitem qualifier joins back to orders, then
    // customer. Scale shape: the qualifier is a partial→final hash agg on
    // the fact (its output is orders-sized, already keyed on the join key —
    // AQE reuses the partitioning for the join); customer attaches last so
    // only the ~top fraction of orders reaches it; TakeOrdered caps the
    // output without a global sort.
    "q18_large_orders" -> ((s, d) => {
      val big = t(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 4).as("tot_qty"))
        .filter(col("tot_qty") > 150)
      t(s, d, "orders").join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_date"),
          round(col("o_totalprice"), 4).as("o_totalprice"), col("tot_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    }),

    // ---- TPC-H-Q4 shape: order-priority census gated by an EXISTS
    // qualifier (any line shipped after the order date). The left-semi join
    // carries the non-equi residual (l_shipdate > o_orderdate) on top of
    // the orderkey equi-key, so it stays a hash/sort-merge SEMI join — each
    // order emits at most once, no qualifier aggregation or distinct
    // needed. Scale shape: the date range reaches the orders scan
    // (PushedFilters) and the semi join's build side never materializes
    // more than a boolean per order.
    "q4_priority_exists" -> ((s, d) => {
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01")
      val l = t(s, d, "lineitem")
      o.join(l,
          col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // ---- TPC-H-Q10 shape: returned-item revenue, top 20 customers. The
    // two facts (lineitem⋈orders) shuffle on orderkey; customer joins on
    // the aggregated-down stream; nation broadcasts. The returnflag filter
    // reaches the lineitem scan, the quarter range the orders scan;
    // TakeOrderedAndProject caps the result without a global sort.
    "q10_returned_revenue" -> ((s, d) => {
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-04-01")
      t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(r4(FP.qsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 20)).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // ---- TPC-H-Q14 shape: promo revenue share for one ship month — a
    // conditional-sum ratio over lineitem⋈part. part is NOT broadcast: at
    // TPC-H ratios it is fact-sized/30 (2.6 B rows under a 100 TB
    // lineitem), far past any broadcast threshold — the join shuffles on
    // partkey and AQE may still broadcast at small SF where it genuinely
    // fits. The one-month range reaches the lineitem scan, so the shuffle
    // carries ~1/80th of the fact.
    "q14_promo_share" -> ((s, d) => {
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= "1996-03-01" && col("l_shipdate") < "1996-04-01")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .agg(
          r4(lit(100.0) * FP.qsum(when(col("p_type") === "PROMO", rev).otherwise(0.0), 20)
              / FP.qsum(rev, 20))
            .as("promo_share"),
          count(lit(1)).as("n"))
    }),

    // ---- TPC-H-Q19 shape: disjunction of brand×size×quantity brackets as
    // the join residual. The partkey equi-key keeps this a hash join (NOT a
    // cartesian) with the OR-of-ANDs evaluated as a codegen'd residual;
    // the per-side conjuncts Catalyst can factor out (quantity ≤ upper
    // bracket bound, size ≥ 1) are pushed into the scans.
    "q19_disjunctive" -> ((s, d) => {
      val l = t(s, d, "lineitem")
      val p = t(s, d, "part")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(p, col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 40))))
        .agg(r4(FP.qsum(rev, 20)).as("revenue"), count(lit(1)).as("n"))
    }),

    // ---- TPC-H Q21 shape ("suppliers who kept waiting"), adapted to
    // this schema's dates: for finished multi-supplier orders, blame the
    // supplier who was the ONLY late shipper (> 90 days after the order
    // date). Written in the DECORRELATED form — per-order distinct/
    // conditional-distinct aggregates replace Q21's EXISTS + NOT EXISTS
    // self-join pair, turning two correlated probes of the fact table
    // into ONE extra aggregation over a join both engines already do:
    // exactly how an optimizer wants this query, and at 100 TB the
    // difference between one fact-pass and three. (`q4_priority_exists`
    // keeps the subquery-planning face; this one is the rewrite.)
    // ---- TPC-H Q7 shape ("volume shipping"): bilateral trade — revenue
    // between two specific (supplier-nation, customer-nation) pairs per
    // ship year. The two nation lookups are independent broadcast dims
    // (supplier side and customer side resolve separately); the fact
    // traverses lineitem⋈orders⋈customer once and lineitem⋈supplier once —
    // the star pattern where every dimension broadcasts and the only big
    // shuffle is the final (n1, n2, year) rollup. The nation-pair
    // disjunction filters BEFORE the rollup, scan-side.
    "q7_volume_shipping" -> ((s, d) => {
      val n1 = t(s, d, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, d, "nation").select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
                (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("bigint").as("l_year"))
        .agg(count(lit(1)).as("n_lines"),
             round(FP.qsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 20), 4)
               .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // ---- TPC-H Q8 shape ("national market share"): one nation's share of
    // a region's revenue in one part type, by order year. The share is a
    // conditional-sum ratio inside one aggregate pass (sum(if)/sum) —
    // never two scans; both sums ride the SAME fixed-point quantization so
    // the ratio is a single divide on engine-identical doubles. Dims
    // (part-type filter, supplier→nation, customer→nation→region)
    // broadcast; the fact is traversed once.
    "q8_market_share" -> ((s, d) => {
      val suppNation = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("sk"), col("n_name").as("supp_nation"))
      val custRegion = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey").as("ck"), col("r_name"))
      val qv = FP.q(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 20)
      t(s, d, "lineitem")
        .join(hint(scaledHintOn(s, d, "part"))(t(s, d, "part").filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(custRegion, col("o_custkey") === col("ck"))
        .filter(col("r_name") === "AMERICA")
        .join(hint(scaledHintOn(s, d, "supplier"))(suppNation), col("l_suppkey") === col("sk"))
        .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_3", qv).otherwise(lit(0L))).cast("double") /
            lit(1048576.0)).as("nation_rev"),
          (sum(qv).cast("double") / lit(1048576.0)).as("total_rev"))
        .select(col("o_year"),
          round(col("nation_rev"), 4).as("nation_rev"),
          round(col("total_rev"), 4).as("total_rev"),
          round(col("nation_rev") / col("total_rev"), 6).as("mkt_share"))
        .orderBy("o_year")
    }),

    // ---- TPC-H Q13 shape ("customer distribution"): orders per customer
    // INCLUDING the zero-order customers — the classic LEFT-join-then-
    // double-aggregate whose whole point is that an inner join would
    // silently drop the zeros. The comment-filter analogue here is the
    // priority class (this schema has no o_comment). Scale shape: one
    // shuffle on custkey for the per-customer count (customer side is the
    // small one, but the left join must preserve it — AQE picks the
    // broadcast), then a tiny count-of-counts hash-agg.
    "q13_cust_distribution" -> ((s, d) => {
      val ords = t(s, d, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey")
      t(s, d, "customer").select(col("c_custkey"))
        .join(ords, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // ---- TPC-H Q17 shape ("small-quantity-order revenue"): lineitems of
    // one brand whose quantity sits below 20% of that PART's average
    // quantity — the canonical correlated scalar subquery. Declaratively
    // the correlation decorrelates to a per-part aggregate joined back on
    // partkey (the only scalable plan at any size: the naive form re-scans
    // lineitem per row). The threshold avg rides fixed-point qmean so the
    // 0.2·avg cut is the same double on both engines.
    "q17_small_qty" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val perPart = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg(FP.qmean(col("l_quantity")).as("avg_qty"))
      li.join(t(s, d, "part").filter(col("p_brand") === "Brand#11"),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(count(lit(1)).as("n_lines"),
             round(FP.qsum(col("l_extendedprice"), 20).cast("double") / 7.0, 4)
               .as("avg_yearly"))
    }),

    "q21_single_blame" -> ((s, d) => {
      val l = t(s, d, "lineitem")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        // full-timestamp interval arithmetic (same class as the q12 ADVICE
        // fix): date_add would cast o_orderdate to DATE and drop any
        // time-of-day, diverging from the oracle's INTERVAL addition on data
        // with non-midnight order timestamps
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      l.groupBy("l_orderkey")
        .agg(countDistinct("l_suppkey").as("n_supp"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"),
          max(when(col("late"), col("l_suppkey"))).as("blame"))
        .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
        .groupBy(col("blame").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), col("s_suppkey"))
        .limit(20)
    }),

    // ---- TPC-H Q22 shape ("global sales opportunity"): customers with
    // above-average positive balance and no URGENT orders, per segment
    // (every customer in this feed has SOME order, so Q22's "no orders"
    // probe is narrowed to the priority class to keep the anti-join
    // doing real work). The
    // scalar average rides through fixed-point qmean + qround so the
    // comparison threshold is the same double on both engines; the
    // no-orders probe is a left-anti join against the distinct customer
    // keys (key-cardinality-sized build side, never the orders fact).
    "q22_idle_rich" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg(FP.qround(FP.qmean(col("c_acctbal")), 4).as("thr"))
      cust
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey").as("c_custkey")).distinct(),
          Seq("c_custkey"), "left_anti")
        .crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("thr"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          r4(FP.qsum(col("c_acctbal"), 20)).as("totbal"))
        .orderBy("c_mktsegment")
    }),

    // ---- TPC-H Q2 shape ("minimum-cost supplier"): for each qualifying
    // part, the supplier(s) in one region offering the MINIMUM unit cost —
    // the canonical correlated-MIN subquery. The schema has no partsupp,
    // so the offer book is derived: per (partkey, suppkey) the minimum
    // observed unit price in lineitem, quantized to a 2^20 fixed-point
    // BIGINT so the min and the equality join back ride exact integer
    // compares on both engines (a double-equality join is a flake
    // factory). Decorrelated plan: per-part min over the region's offers,
    // joined back on (part, cost_q = min_q) — never a per-row rescan. At
    // 100 TB the offer aggregation is the one big shuffle; region/nation/
    // part dims all broadcast.
    "q2_min_cost_supp" -> ((s, d) => {
      val offers = t(s, d, "lineitem")
        .groupBy(col("l_partkey").as("o_pk"), col("l_suppkey").as("o_sk"))
        .agg(min(FP.q(col("l_extendedprice") / col("l_quantity"), 20))
          .cast("bigint").as("cost_q"))
      val eligSupp = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val regOffers = offers.join(eligSupp, col("o_sk") === col("s_suppkey"))
      val minPer = regOffers.groupBy(col("o_pk").as("m_pk"))
        .agg(min(col("cost_q")).as("min_q"))
      regOffers
        .join(minPer, col("o_pk") === col("m_pk") && col("cost_q") === col("min_q"))
        .join(hint(scaledHintOn(s, d, "part"))(t(s, d, "part")
            .filter(col("p_size").between(10, 20) && col("p_type") === "SMALL")),
          col("o_pk") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
          r4(col("cost_q").cast("double") / lit(1048576.0)).as("unit_cost"))
        .orderBy("p_partkey", "s_name")
        .limit(100)
    }),

    // ---- TPC-H Q9 shape ("product-type profit"): profit by supplier
    // nation and order year over one part family. No ps_supplycost in
    // this schema, so cost is the deterministic proxy 0.6·p_retailprice
    // per unit — the SHAPE (4-way fact join, name-LIKE dim filter,
    // two-key rollup) is what's exercised. Profit can go negative →
    // qround canonicalizes the signed zero on both engines. Part/
    // supplier/nation broadcast; lineitem⋈orders is the one big join.
    "q9_product_profit" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(hint(scaledHintOn(s, d, "part"))(t(s, d, "part").filter(col("p_name").like("%red%"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(count(lit(1)).as("n_lines"),
          FP.qround(FP.qsum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
              lit(0.6) * col("p_retailprice") * col("l_quantity"), 20), 4)
            .as("profit"))
        .orderBy(col("nation"), desc("o_year"))
    }),

    // ---- TPC-H Q11 shape ("important stock"): per-part value held by one
    // nation's suppliers, keeping parts above a FRACTION of the global
    // total — the global-scalar-threshold pattern. Both the per-part
    // values and the grand total stay in fixed-point BIGINT; the
    // 0.001·total cut compares exact integers against one IEEE multiply,
    // identical on both engines. The global total re-aggregates the
    // per-part frame (group-count-sized, tiny) and broadcasts — the fact
    // is scanned once.
    "q11_important_stock" -> ((s, d) => {
      val natSupp = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("ns_sk"))
      val perPart = t(s, d, "lineitem")
        .join(hint(scaledHintOn(s, d, "supplier"))(natSupp),
          col("l_suppkey") === col("ns_sk"), "left_semi")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(FP.q(col("l_extendedprice"), 20)).cast("bigint").as("vq"))
      val total = perPart.agg(sum(col("vq")).as("tq"))
      perPart.crossJoin(broadcast(total))
        .filter(col("vq").cast("double") > lit(0.001) * col("tq").cast("double"))
        .select(col("p_partkey"),
          r4(col("vq").cast("double") / lit(1048576.0)).as("part_value"))
        .orderBy(desc("part_value"), col("p_partkey"))
    }),

    // ---- TPC-H Q12 shape ("shipping modes & priority"): late lineitems
    // (shipped >90 days after order date) classified by line status, with
    // critical- vs non-critical-priority order counts as conditional sums
    // in ONE aggregate pass over the fact join. No l_shipmode column in
    // this schema — l_linestatus carries the grouping role; the shape
    // (fact join + date arithmetic + CASE-bucketed counts) is identical.
    "q12_late_shipments" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        // full-timestamp interval arithmetic (ADVICE r8): date_add would
        // cast o_orderdate to DATE and drop any time-of-day, silently
        // diverging from the oracle's INTERVAL addition on data with
        // non-midnight order timestamps
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1L))
            .otherwise(lit(0L))).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(0L))
            .otherwise(lit(1L))).as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    // ---- TPC-H Q15 shape ("top supplier"): supplier(s) achieving the
    // maximum quarterly revenue — the scalar-MAX-subquery-over-a-view
    // pattern. Revenue stays a fixed-point BIGINT end-to-end so the
    // max-equality probe is an exact integer compare (Q15's notorious
    // double-equality flake cannot happen); the max re-aggregates the
    // supplier-count-sized revenue frame and broadcasts.
    "q15_top_supplier" -> ((s, d) => {
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(FP.q(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 20))
          .cast("bigint").as("rev_q"))
      val maxRev = rev.agg(max(col("rev_q")).as("max_q"))
      rev.crossJoin(broadcast(maxRev))
        .filter(col("rev_q") === col("max_q"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          r4(col("rev_q").cast("double") / lit(1048576.0)).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // ---- TPC-H Q16 shape ("supplier census"): distinct suppliers per
    // (brand, type, size) bucket over an attribute-filtered part family,
    // EXCLUDING a blocked supplier set — the distinct-count + anti-join
    // pattern. The partsupp stand-in is the distinct (partkey, suppkey)
    // pair set from lineitem; "complaint" suppliers are the negative-
    // balance ones. The blocked set broadcasts into a left-anti BEFORE
    // the distinct-count shuffle so excluded rows never travel.
    "q16_supplier_census" -> ((s, d) => {
      val pairs = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val blocked = t(s, d, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      pairs
        .join(hint(scaledHintOn(s, d, "supplier"))(blocked),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(hint(scaledHintOn(s, d, "part"))(t(s, d, "part").filter(
            col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 5, 10, 15, 20, 25))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
    }),

    // ---- TPC-H Q20 shape ("excess inventory"): suppliers in one nation
    // who shipped MORE than half of a part's 1997 volume for some part in
    // a name family — the doubly-nested semi-join pattern (Q20's
    // availqty > 0.5·sum(qty) probe, re-expressed over shipped volume).
    // Quantities aggregate in fixed-point BIGINT; the 0.5·total compare
    // is exact-integer vs one IEEE multiply. The supplier probe is a
    // left-semi (existence only — no fan-out, no distinct needed).
    "q20_excess_suppliers" -> ((s, d) => {
      val shipped = t(s, d, "lineitem")
        .filter(year(col("l_shipdate")) === 1997)
        .join(hint(scaledHintOn(s, d, "part"))(t(s, d, "part").filter(col("p_name").like("small%"))
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
      val perPS = shipped
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(FP.q(col("l_quantity"), 20)).cast("bigint").as("sq"))
      val perP = perPS.groupBy(col("l_partkey")).agg(sum(col("sq")).as("tq"))
      val excess = perPS.join(perP, "l_partkey")
        .filter(col("sq").cast("double") > lit(0.5) * col("tq").cast("double"))
        .select(col("l_suppkey"))
      t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy("s_name")
    }),

    // ---- the NOT IN null trap, solved both ways: one NULL in a NOT IN
    // subquery makes EVERY row's membership test UNKNOWN → zero rows, while
    // NOT EXISTS ignores the NULL and anti-joins normally. Spark plans the
    // null-aware form as a broadcast NullAwareAntiJoin (never a cartesian);
    // the catalog face reports both counts side by side so the semantic
    // difference is hash-checked against the oracle, not just documented.
    "sub_not_in_null_trap" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      t(s, d, "customer")
        .select(when(col("c_acctbal") < 0, col("c_custkey")).as("nullable_key"))
        .createOrReplaceTempView("v_subkeys")
      s.sql("""
        SELECT
          (SELECT count(*) FROM v_orders
           WHERE o_custkey NOT IN (SELECT nullable_key FROM v_subkeys)) AS n_not_in,
          (SELECT count(*) FROM v_orders o
           WHERE NOT EXISTS (SELECT 1 FROM v_subkeys s
                             WHERE s.nullable_key = o.o_custkey)) AS n_not_exists""")
    }),

    // ---- ANSI FILTER clause (conditional aggregation as SQL text): the
    // standard's spelling of sum(CASE WHEN …) — one aggregate pass, each
    // aggregate carrying its own predicate. Spark compiles FILTER to the
    // identical conditional-aggregate plan, so the SQL surface costs
    // nothing over the hand-built form; DuckDB runs the same text.
    "agg_filter_clause" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      s.sql("""
        SELECT o_orderstatus,
          count(*) AS n,
          count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
          count(*) FILTER (WHERE o_totalprice > 200000) AS n_large,
          min(o_orderkey) FILTER (WHERE o_totalprice > 200000) AS first_large
        FROM v_orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    }),

    // ---- rollup with grouping_id: the bitmask that tells a report reader
    // WHICH level each output row aggregates (0 = leaf, 1 = status
    // subtotal, 3 = grand total) — without it, rollup output with nullable
    // group keys is ambiguous (a NULL key vs a subtotal row).
    "agg_grouping_id" -> ((s, d) =>
      t(s, d, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(FP.qsum(col("o_totalprice"), 20), 4).as("rev"),
             grouping_id().as("gid"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_last,
          col("o_orderpriority").asc_nulls_last)),

    // ---- running distinct count (the live-dashboard "unique users so
    // far" metric): windowed count(DISTINCT) doesn't exist in any engine,
    // so the scalable form marks each user's FIRST appearance with a
    // per-(type,user) row_number and running-sums the flags — two window
    // passes whose partition keys both contain event_type, so AQE plans one
    // exchange layout; no distinct state ever exceeds a long per row.
    // OPTIMIZATION r14 (guide §2.5): the first-seen window keys on
    // (event_type, user_id) — high-cardinality, splittable, kept — but
    // the running sum keyed on event_type alone (~5 values) was the
    // unsplittable-key straggler. The prefix sum is associative, so it
    // now runs through TwoLevel.groupRunningSum: range layout on
    // (type, ts, event_id), (physical partition × type)-grained local
    // running sums, broadcast per-(partition, type) carry offsets —
    // exact integer sums, identical per-row values (the (ts, event_id)
    // tie-break is a total order).
    "w9_running_distinct" -> ((s, d) => {
      val firstSeen = Window.partitionBy("event_type", "user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val flagged = t(s, d, "events")
        .withColumn("is_first", (row_number().over(firstSeen) === 1).cast("long"))
        .select("event_type", "event_id", "ts", "is_first")
      TwoLevel.groupRunningSum(flagged, col("event_type"), col("is_first"),
          col("ts").asc, col("event_id").asc)
        .withColumnRenamed("run_g", "distinct_users_so_far")
        .select("event_type", "event_id", "ts", "distinct_users_so_far")
        .orderBy("event_type", "event_id")
    }),

    // ---- window §2.5 completion: the frame/distribution functions a BI
    // migration actually hits — cume_dist (fraction of partition at or
    // below this ORDER-BY key), nth_value over the default growing frame
    // (NULL until the 3rd row arrives — the semantics people get wrong),
    // and first/last over an explicit whole-partition frame (last_value
    // without the frame override is the classic silent bug: it returns
    // the CURRENT row). Unique (totalprice, orderkey) ordering → every
    // output is rank arithmetic or key lookup, engine-identical; cume_dist
    // is an exact small-integer ratio. One shuffle on the partition key;
    // top-5 per priority bounds the output.
    // OPTIMIZATION r14 (guide §2.5 + §2.3): the o_orderpriority window was
    // the same unsplittable-key straggler as w7/w8 (5 keys = 5 tasks hold
    // the whole table) — but unlike w7/w8 this face only OUTPUTS the
    // top-5 rows per group, so it decomposes with NO full-table exchange
    // at all (aggregate-before-shuffle applied to ranks): sort each SCAN
    // partition locally by (group, order), decode local per-(partition,
    // group) positions from monotonically_increasing_id, and keep only
    // per-partition group top-5 rows plus each partition's per-group LAST
    // row — a candidate frame bounded by 6 × partitions × groups that
    // provably contains the global top-5 and the global last row of every
    // group. Global ranks, the rank-1/3 keys, and the last-row key are
    // then windows over that bounded frame; n_g (for cume_dist) rides the
    // same broadcast census. WindowDecompositionSpec pins all five
    // columns equal to the built-in window functions at two sfs.
    "w10_dist_frames" -> ((s, d) => {
      val local = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .sortWithinPartitions(col("o_orderpriority"),
          col("o_totalprice").desc, col("o_orderkey").asc)
        .withColumn("__mid", monotonically_increasing_id())
        .withColumn("__pid", shiftright(col("__mid"), 33))
        .withColumn("__lrn", col("__mid") - shiftleft(col("__pid"), 33) + 1)
      val census = local.groupBy(col("__pid"), col("o_orderpriority").as("__g"))
        .agg(count(lit(1)).as("__cnt"), min("__lrn").as("__minl"), max("__lrn").as("__maxl"))
      val ns = census.groupBy(col("__g").as("__ng")).agg(sum("__cnt").as("n_g"))
      val cands = local
        .join(broadcast(census),
          local("__pid") === census("__pid") && col("o_orderpriority") === col("__g"))
        .filter(local("__lrn") - col("__minl") < 5 || local("__lrn") === col("__maxl"))
        .select(local("o_orderkey"), local("o_orderpriority"), local("o_totalprice"))
      val wOrd = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val wAll = Window.partitionBy("o_orderpriority")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // (-price, key) sorts ascending in window order: max = the last row.
      val byOrd = struct((-col("o_totalprice")).as("np"), col("o_orderkey").as("k"))
      cands
        .withColumn("rn", row_number().over(wOrd).cast("bigint"))
        .withColumn("bottom_key", max(byOrd).over(wAll).getField("k"))
        .withColumn("top_key", max(when(col("rn") === 1, col("o_orderkey"))).over(wAll))
        .withColumn("third_key", max(when(col("rn") === 3, col("o_orderkey"))).over(wAll))
        .filter(col("rn") <= 5)
        .join(broadcast(ns), col("o_orderpriority") === col("__ng"))
        .withColumn("cum_frac",
          round(col("rn").cast("double") / col("n_g").cast("double"), 6))
        .withColumn("third_key", when(col("rn") >= 3, col("third_key")))
        .select("o_orderpriority", "rn", "o_orderkey", "cum_frac",
          "third_key", "top_key", "bottom_key")
        .orderBy("o_orderpriority", "rn")
    }),

    // ---- correlated LATERAL subquery (top-N per group as the optimizer
    // sees it from SQL text): for every nation, the 2 richest customers
    // via a correlated ORDER BY … LIMIT subquery. Spark decorrelates this
    // to the same window-rank plan w4_rank_topn builds by hand — the face
    // proves the SQL-surface route lands on the scalable plan, not a
    // per-nation rescan. DuckDB runs the identical LATERAL text.
    "sub_lateral_topn" -> ((s, d) => {
      t(s, d, "nation").createOrReplaceTempView("v_nation")
      t(s, d, "customer").createOrReplaceTempView("v_customer")
      s.sql("""
        SELECT n_name, c.c_custkey, c.c_acctbal
        FROM v_nation, LATERAL (
          SELECT c_custkey, c_acctbal FROM v_customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        ORDER BY n_name, c_acctbal DESC, c_custkey""")
    }),

    // ---- the spark.sql surface: the same engine drives multi-CTE ANSI SQL
    // over registered views — proof a reference user can bring their SQL
    // text instead of the DataFrame API and get identical plans (the CTE
    // lowers to the exact agg⋈agg shape q18 builds programmatically).
    "sql_multi_cte" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("v_orders")
      t(s, d, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql("""
        WITH rev AS (SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue
                     FROM v_lineitem GROUP BY l_orderkey)
        SELECT o_orderpriority, count(*) AS n_orders, round(sum(revenue), 4) AS total_rev
        FROM v_orders JOIN rev ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // ---- winsorized (outlier-robust) mean: clamp each group's values to
    // its own [p05, p95] band, then average — the metric a pipeline reports
    // when a handful of corrupt rows would otherwise move the mean. Two
    // passes: the exact-percentile fit collapses to one row per group
    // (3 groups) and broadcasts back onto the scan; no row-level window, no
    // sort of the fact. The same fit-broadcast-transform shape as
    // emb_whitening — at 100 TB the second pass is embarrassingly parallel.
    "agg_winsorize" -> ((s, d) => {
      // exact percentiles via engine.Quantiles (r12): the built-in
      // percentile() buffers every distinct value per group in executor
      // memory (ObjectHashAggregate, off-codegen — the measured ~1 s of
      // this face's 2.4 s standing cost and an OOM at 100 TB); the
      // two-phase bucketed selection holds only a bucket histogram and
      // gathers the two target buckets. Identical interpolation
      // arithmetic, bit-identical result (CORRECTNESS row unchanged).
      val base = t(s, d, "lineitem")
        .select("l_returnflag", "l_extendedprice").cache()
      val qs = graft.engine.Quantiles.exact(
        base, "l_returnflag", "l_extendedprice", Seq(0.05, 0.95), 64.0)
      val bands = qs.groupBy("l_returnflag")
        .agg(max(when(col("__p") === 0.05, col("__q"))).as("p05"),
             max(when(col("__p") === 0.95, col("__q"))).as("p95"))
      base
        .join(broadcast(bands), "l_returnflag")
        .withColumn("w", least(greatest(col("l_extendedprice"), col("p05")), col("p95")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
             // fixed-point means (bits=20 for price magnitudes): the plain
             // avg(double) partial-merge order could flip the 4th decimal
             round(FP.qmean(col("l_extendedprice"), 20), 4).as("raw_mean"),
             round(FP.qmean(col("w"), 20), 4).as("winsor_mean"),
             round(first(col("p05")), 4).as("p05"),
             round(first(col("p95")), 4).as("p95"))
        .orderBy("l_returnflag")
    }),

    // ---- median absolute deviation: the robust spread companion to
    // agg_winsorize's robust mean — median(|x − median(x)|) per group via
    // the same fit-broadcast-transform two-pass (exact percentile fit
    // collapses to one row per group; the deviation pass is embarrassingly
    // parallel; a second exact percentile closes it). Outliers move MAD
    // not at all, where stddev chases them quadratically.
    // ---- Gini / Lorenz revenue-concentration profile — the inequality
    // census a data-mixing pipeline runs on source footprints and a revenue
    // team runs on accounts: G = 2·Σr·x / (n·Σx) − (n+1)/n over ascending
    // ranks, plus the top-decile Lorenz point. The interesting part is the
    // RANK: a naive global row_number is a one-partition window over the
    // whole aggregate — fine at 15k customers, a scale-killer at 1e9. Here
    // rank is TWO-PHASE DISTRIBUTED: (1) a coarse monotone bucket
    // b = ⌊√rq⌋ (IEEE sqrt is correctly rounded, so the bucket boundary is
    // bit-identical on both engines and floor∘sqrt preserves the rq
    // order); (2) cumulative offsets over the BUCKET frame — bounded by
    // the VALUE DOMAIN (~20k buckets at any row count), so its window is
    // metadata-sized forever; (3) within-bucket row_number, each partition
    // a thin rq-slice. rank = offset + local — provably the global
    // (rq, custkey) rank. The oracle free-rides on a plain row_number.
    // Fixed-point envelope (q4): Σ rank·rq ≈ n²·rev·2⁴ → ~1e17 at sf0.1,
    // ~90× under 2^63; past sf~3 drop to q0 or rescale ranks.
    "agg_gini_concentration" -> ((s, d) => {
      val rev = t(s, d, "orders")
        .groupBy("o_custkey")
        .agg(sum(FP.q(col("o_totalprice"), 4)).cast("long").as("rq"))
      val bucketed = rev.withColumn("b",
        floor(sqrt(col("rq").cast("double"))).cast("long"))
      val offsets = bucketed.groupBy("b").agg(count(lit(1)).as("nb"))
        .withColumn("off", coalesce(sum("nb").over(
          Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val ranked = bucketed.join(broadcast(offsets.select("b", "off")), "b")
        .withColumn("lr", row_number().over(
          Window.partitionBy("b").orderBy(col("rq"), col("o_custkey"))).cast("long"))
        .withColumn("r", col("off") + col("lr"))
        .cache()
      val tot = ranked.agg(count(lit(1)).as("n"), sum("rq").as("tq"),
        sum(col("r") * col("rq")).as("srq"))
      val topq = ranked.crossJoin(broadcast(tot))
        .filter(col("r") > col("n") - floor(col("n") / lit(10)).cast("long"))
        .agg(sum("rq").as("topq"))
      tot.crossJoin(topq).select(
        col("n").as("n_customers"),
        round((lit(2.0) * col("srq").cast("double"))
            / (col("n").cast("double") * col("tq").cast("double"))
          - (col("n") + lit(1)).cast("double") / col("n").cast("double"), 4).as("gini"),
        round(col("topq").cast("double") / col("tq").cast("double"), 4).as("top10_share"))
    }),

    "agg_mad" -> ((s, d) => {
      // Exact MAD is irreducibly two-pass (the deviation column needs the
      // median first); the passes share cached narrow projections instead
      // of re-scanning the parquet (VERDICT r8 #4). Both exact medians
      // run through engine.Quantiles' two-phase bucketed selection (r12)
      // instead of percentile()'s per-group value buffer — the buffer was
      // the measured ~1 s/pass residual at sf0.1 AND an executor OOM at
      // 100 TB (it holds every distinct value of a group in memory);
      // the selection's state is a bucket histogram. Bit-identical
      // interpolation, so the CORRECTNESS row is unchanged; the dev frame
      // is cached because the selection scans its input twice.
      val base = t(s, d, "lineitem")
        .select("l_returnflag", "l_extendedprice").cache()
      val med = graft.engine.Quantiles.exact(
          base, "l_returnflag", "l_extendedprice", Seq(0.5), 64.0)
        .select(col("l_returnflag"), col("__q").as("med"))
      val dev = base
        .join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"),
          abs(col("l_extendedprice") - col("med")).as("dev")).cache()
      val mad = graft.engine.Quantiles.exact(
          dev, "l_returnflag", "dev", Seq(0.5), 64.0)
        .select(col("l_returnflag"), col("__q").as("mad"))
      base
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
             round(stddev_pop(col("l_extendedprice")), 4).as("stddev0"))
        .join(broadcast(med), "l_returnflag")
        .join(broadcast(mad), "l_returnflag")
        .select(col("l_returnflag"), col("n"),
          round(col("med"), 4).as("median_price"),
          round(col("mad"), 4).as("mad"),
          col("stddev0").as("stddev"))
        .orderBy("l_returnflag")
    }),

    // ---- Poisson-bootstrap confidence interval for the per-group mean —
    // the resampling pattern that actually runs at 100 TB: classical
    // bootstrap resampling (draw n rows with replacement, B times) needs
    // global coordination, but Poisson(1) per-row replica weights
    // approximate it embarrassingly parallel (Chamandy et al., the
    // production "Poisson bootstrap"): each row × replica gets a
    // DETERMINISTIC pseudo-Poisson weight from quadratic-mix integer
    // hashing (the tx_mixture_resample no-rand() discipline — both engines
    // replay the identical integer ladder, so the whole resample is
    // reproducible at any partitioning), replica means are ratios of
    // fixed-point qsums (exact-long numerator AND denominator), and the
    // spread of the B=16 replica means is computed as a second FP pass
    // over the 16-row-per-group means frame — no order-sensitive moment
    // aggregate anywhere. Scale shape: the ×B expansion is scan-side
    // codegen (sequence + explode), partial aggregation collapses it to
    // (group, replica) before the one shuffle; the CI math runs on
    // B·groups rows.
    "agg_bootstrap_ci" -> ((s, d) => {
      val B = 16
      val P = 1000003L
      val rows = t(s, d, "lineitem")
        .select(col("l_returnflag"),
          (col("l_orderkey") * 8 + col("l_linenumber")).as("rk"),
          col("l_extendedprice").as("x"))
        .select(col("l_returnflag"), col("rk"), col("x"),
          explode(sequence(lit(0), lit(B - 1))).as("r"))
        .withColumn("h", pmod(col("rk") * 2654435761L + (col("r") + 1) * 40503L, lit(P)))
        // Poisson(1) inverse-CDF ladder on the integer hash (cutoffs =
        // CDF × P, fixed literals so both engines compare the same ints)
        .withColumn("w",
          when(col("h") < 367879L, 0L).when(col("h") < 735759L, 1L)
            .when(col("h") < 919699L, 2L).when(col("h") < 981012L, 3L)
            .when(col("h") < 996340L, 4L).otherwise(5L))
      val reps = rows.groupBy("l_returnflag", "r")
        .agg((FP.qsum(col("x") * col("w"), 20) / sum(col("w"))).as("m"))
      val center = reps.groupBy("l_returnflag")
        .agg(FP.qmean(col("m"), 20).as("boot_mean"))
      reps.join(broadcast(center), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_replicas"),
          first(col("boot_mean")).as("bm"),
          FP.qsum((col("m") - col("boot_mean")) * (col("m") - col("boot_mean")), 20)
            .as("ss"))
        .select(col("l_returnflag"), col("n_replicas"),
          round(col("bm"), 4).as("boot_mean"),
          round(sqrt(col("ss") / (col("n_replicas") - 1).cast("double")), 4).as("boot_se"),
          round(col("bm") - lit(1.96) * sqrt(col("ss") / (col("n_replicas") - 1).cast("double")), 4).as("ci_lo"),
          round(col("bm") + lit(1.96) * sqrt(col("ss") / (col("n_replicas") - 1).cast("double")), 4).as("ci_hi"))
        .orderBy("l_returnflag")
    }),

    // ---- day-over-day self-join built from ONE aggregated subplan: both
    // join inputs are the same daily rollup, so the planner reuses the
    // first aggregation's shuffle for the second side (plan-asserted)
    // instead of scanning and aggregating twice — the optimizer feature
    // that halves the IO of every "compare this period to the previous
    // one" query at scale. The grouping key is made NON-nullable
    // (coalesce with a sentinel the data never hits): join-key isnotnull
    // constraints would otherwise push DIFFERENT inferred filters into the
    // two sides' scans (isnotnull(day) vs isnotnull(day+1d)) and break the
    // canonical subplan equality that exchange reuse keys on.
    "opt_reused_exchange" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(coalesce(date_trunc("DAY", col("ts")),
          to_timestamp(lit("1970-01-01"))).as("day"))
        .agg(count(lit(1)).as("n"), round(FP.qsum(col("value"), 20), 4).as("day_value"))
      daily.as("a")
        .join(daily.select((col("day") + expr("interval 1 day")).as("day"),
            col("n").as("prev_n"), col("day_value").as("prev_value")).as("b"),
          Seq("day"))
        .select(col("day"), col("n"), col("prev_n"),
          // day-over-day delta is sign-capable → qround (signed-zero rule)
          FP.qround(col("day_value") - col("prev_value"), 4).as("delta_value"))
        .orderBy("day")
    }),

    // ---- regression/correlation aggregates: the relationship-profiling
    // pass (does price scale with quantity per return class?). All four
    // statistics are single-pass mergeable moment aggregates — partial
    // state is (n, Σx, Σy, Σxy, Σx², Σy²), so the shuffle carries 6 doubles
    // per group at any scale. Deterministic to 4 decimals across engines
    // (moment sums are order-sensitive in the last ulps).
    "agg_corr_regr" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
             // corr/slope/intercept are sign-capable → qround (signed-zero
             // rule); r2 ∈ [0,1] stays plain round
             FP.qround(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
             FP.qround(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
             FP.qround(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
             round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2"))
        .orderBy("l_returnflag")),

    // ---- P1 column-subset projection (streamlit_app.py:281). Pure scan:
    // ReadSchema must list exactly these 4 columns; no shuffle (sort only).
    "p1_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- P3 derived-column projection (streamlit_app.py:78,99-105).
    "p3_derived" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("revenue", r4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .withColumn("ship_year", year(col("l_shipdate")).cast("bigint"))
        .select("l_orderkey", "l_linenumber", "revenue", "ship_year")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- P4 unpivot / transpose (streamlit_app.py:180) via stack().
    "p4_unpivot" -> ((s, d) =>
      t(s, d, "part")
        .selectExpr("p_partkey",
          "stack(2, 'p_retailprice', p_retailprice, 'p_size', cast(p_size as double)) as (attr, val)")
        .orderBy("p_partkey", "attr")),

    // ---- P5 null-drop filter (streamlit_app.py:91).
    "p5_nulldrop" -> ((s, d) =>
      t(s, d, "events")
        .na.drop(Seq("value", "props", "event_type"))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")),

    // ---- P6 range predicate (streamlit_app.py:92). Pushed to parquet scan
    // (row-group min/max skipping at scale).
    "p6_range" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 25 && col("l_quantity") <= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- P7 boolean predicate (streamlit_app.py:227-229).
    "p7_bool" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("is_discounted", col("l_discount") > 0.05)
        .filter(col("is_discounted"))
        .select("l_orderkey", "l_linenumber", "is_discounted")
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- P8 equality predicate (streamlit_app.py:419-420).
    "p8_equality" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")),

    // ---- P9 IN-list predicate (streamlit_app.py:246,442-444).
    "p9_inlist" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")),

    // ---- §2.3 joins. j1: fact⋈dim — dim side broadcast (no shuffle of the
    // 100 TB fact side; only the 6-group agg shuffles).
    "j1_join_broadcast" -> ((s, d) => {
      val l = t(s, d, "lineitem")
      val p = hint(scaledHintOn(s, d, "part"))(t(s, d, "part"))
      l.join(p, l("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        // fixed-point (q*-family bits): tightest sf0.01 margin in the r6
        // audit (26× bar) — migrated with j5 so no price sum is left on
        // the order-sensitive path
        .agg(r4(FP.qsum(col("l_extendedprice"), 20)).as("brand_revenue"),
             count(lit(1)).as("n_lines"))
        .orderBy("p_brand")
    }),

    // j2: left outer row-level join (null-extending side preserved).
    // At scale: sort-merge on o_custkey=c_custkey; customer broadcast here.
    "j2_join_left" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(c("c_custkey"), c("c_name"), o("o_orderkey"), o("o_totalprice"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
    }),

    // j3: left-semi (the table-valued generalization of P9).
    "j3_join_semi" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 100000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // j4: left-anti (customers with no urgent order).
    "j4_join_anti" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // j5: 5-way star join (region⋈nation⋈customer⋈orders⋈lineitem), TPC-H-Q5
    // shape. Dims broadcast in a chain onto the fact scan → the only shuffle
    // is the final 25-group agg.
    "j5_join_multiway" -> ((s, d) => {
      val r = broadcast(t(s, d, "region"))
      val n = broadcast(t(s, d, "nation"))
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        // fixed-point revenue (same bits as the q* price sums): the r6
        // sf0.1 margin audit measured this cell at only 2.4× the
        // order-sensitive bar — close enough to drift under a data bump
        .agg(r4(FP.qsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 20)).as("revenue"),
             count(lit(1)).as("n_lines"))
        .orderBy("r_name", "n_name")
    }),

    // ---- correlated scalar subquery (Catalyst decorrelates into an
    // aggregate + join — exercised through the SQL surface): orders that are
    // 1.5× above their own customer's average.
    "sub_correlated" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v2")
      s.sql(
        """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
          |FROM orders_v2 o
          |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5
          |                      FROM orders_v2 o2 WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- IN / NOT EXISTS subqueries (RewritePredicateSubquery → semi/anti).
    "sub_in_exists" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v2")
      t(s, d, "orders").createOrReplaceTempView("orders_v3")
      s.sql(
        """SELECT c_custkey, c_name FROM customer_v2
          |WHERE c_custkey IN (SELECT o_custkey FROM orders_v3 WHERE o_totalprice > 150000)
          |  AND NOT EXISTS (SELECT 1 FROM orders_v3
          |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
          |ORDER BY c_custkey""".stripMargin)
    }),

    // ---- A4 per-group boolean ANY (f1_dataExtractor.py:276 DRSActive).
    "a4_bool_any" -> ((s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(bool_or(col("value") > 200).as("any_big"),
             bool_and(col("value") >= 0).as("all_nonneg"),
             count(lit(1)).as("n"))
        .orderBy("event_type")),

    // ---- A5 order-sensitive per-group first (f1_dataExtractor.py:267,348).
    // pandas iloc[0] → deterministic window-ordered first (SURVEY §7.4 hard
    // part (b)): row_number over (user_id ORDER BY ts, event_id) = 1.
    "a5_first_per_group" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("first_type"), col("value").as("first_value"))
        .orderBy("user_id")
    }),

    // ---- A7 multi-agg group-by (stint summary, f1_dataExtractor.py:334-353):
    // one hash aggregate replaces the reference's nested unique() loops.
    "a7_multiagg" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             r4(min("o_totalprice")).as("min_price"),
             r4(max("o_totalprice")).as("max_price"),
             r4(FP.qmean(col("o_totalprice"), 20)).as("avg_price"),
             min("o_orderdate").as("first_date"),
             max("o_orderdate").as("last_date"))
        .orderBy("o_orderstatus", "o_orderpriority")),

    // ---- A8 DISTINCT (f1_dataExtractor.py:336,341) + O3 sorted distinct.
    "a8_distinct" -> ((s, d) =>
      t(s, d, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")),

    // ---- A9 whole-column null census + A10 row count.
    "a9_null_census" -> ((s, d) =>
      t(s, d, "events")
        .agg(count(lit(1)).as("n_rows"),
             count(col("value")).as("n_value_nonnull"),
             (count(lit(1)) - count(col("value"))).as("n_value_null"),
             countDistinct(col("user_id")).as("n_users"))),

    // ---- beyond-reference: ROLLUP multi-level aggregate (stock Catalyst
    // Expand → single shuffle).
    "agg_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    "agg_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        // qsum: the all-rows cube cell sums ~1.5e5 prices to ~7.5e9, whose
        // merge noise spans several ulps while sf0.1 lands 3e-6 from a
        // boundary (r6 margin-audit FLAG)
        .agg(count(lit(1)).as("n"), r4(FP.qsum(col("o_totalprice"), 20)).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // ---- GROUPING SETS through the spark.sql surface (the engine's SQL
    // entry point; DataFrame API covers rollup/cube above).
    "agg_grouping_sets" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      // SqlText.qsum is valid in BOTH dialects (floor/CAST/sum only), so the
      // Spark-SQL face and the DuckDB oracle share the identical string
      s.sql(
        s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           |  round(${SqlText.qsum("o_totalprice", 20)}, 4) AS sum_price
           |FROM orders_v
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    }),

    // ---- exact distinct aggregate (Catalyst rewrites to 2-phase agg).
    "agg_count_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
             countDistinct("l_suppkey").as("n_supps"),
             count(lit(1)).as("n_lines"))
        .orderBy("l_returnflag")),

    // ---- statistical aggregates (stddev/corr — Spark & DuckDB both use
    // numerically-stable one-pass formulations; round(4) absorbs ulp drift).
    "agg_stats" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(r4(stddev_samp(col("l_extendedprice"))).as("sd_price"),
             r4(var_samp(col("l_quantity"))).as("var_qty"),
             // corr/covar are sign-capable → qround (signed-zero rule)
             FP.qround(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
             FP.qround(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qty_price"))
        .orderBy("l_returnflag")),

    // exact per-group percentiles (the non-sketch twin of sketch_quantiles):
    // Spark's `percentile` and DuckDB's quantile_cont both interpolate
    // linearly, so the values hash-match after round(,4). Exact percentile
    // needs the full sorted group — at 100 TB reach for sketch_quantiles
    // unless the group count is small (here: 3 statuses), which is exactly
    // when exact is affordable.
    "agg_percentile_exact" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(r4(expr("percentile(o_totalprice, 0.5)")).as("median"),
             r4(expr("percentile(o_totalprice, 0.9)")).as("p90"),
             count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // ---- exact medians at ENTITY cardinality — the group count where
    // agg_percentile_exact's "exact is affordable when groups are few"
    // caveat flips and the built-in percentile() stops being viable: its
    // per-group buffer holds every distinct value, so thousands of
    // entity groups × large value domains is an executor OOM at scale.
    // engine/Quantiles' two-phase bucketed selection (one codegen bucket
    // histogram, bounded by value-domain/width; a metadata-sized rank
    // locate; a target-buckets-only gather) computes the same
    // interpolated quantiles with state that never depends on row count
    // — the face is the catalog-level proof the engine runs at per-
    // supplier granularity, not just agg_mad's 3 flags. Output: per-
    // supplier median and p90 of line prices with the lineage count;
    // the oracle recomputes with quantile_cont (interpolation agrees to
    // ≤1 ulp — see Quantiles scaladoc — and round(,4) absorbs it).
    "agg_median_per_entity" -> ((s, d) => {
      val base = t(s, d, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice")).cache()
      val qs = graft.engine.Quantiles.exact(
        base, "l_suppkey", "l_extendedprice", Seq(0.5, 0.9), 64.0)
      val bands = qs.groupBy("l_suppkey")
        .agg(round(max(when(col("__p") === 0.5, col("__q"))), 4).as("median"),
             round(max(when(col("__p") === 0.9, col("__q"))), 4).as("p90"))
      base.groupBy("l_suppkey").agg(count(lit(1)).as("n"))
        .join(bands, "l_suppkey")
        .select("l_suppkey", "n", "median", "p90")
        .orderBy("l_suppkey")
    }),

    // ---- exact WEIGHTED median (quantity-weighted price per return
    // flag): the robust center that treats a 50-unit line as 50 votes —
    // what "median price" actually means for inventory/revenue questions,
    // and percentile()/approx sketches can't express it. The answer is
    // min(price) where 2·cumw ≥ totw — the lower weighted median,
    // deterministic by construction; equal prices pool their weight so no
    // row-level tie-break is ever needed. Weights are integral quantities
    // carried as exact BIGINTs; the median itself is a raw data value (no
    // arithmetic), so both engines emit identical bits with zero rounding
    // discipline required.
    //
    // Shape (OPTIMIZATION r15, guide §2.5): the original per-flag
    // cumulative window ran over the per-DISTINCT-price rollup — with
    // near-continuous prices that is a row-count-sized frame hash-
    // clustered into |flags| = 3 window tasks (the unsplittable-key
    // straggler class r14 removed from w7/w8/w9/w10), and the rollup's
    // near-unique (flag, price) keys meant partial aggregation collapsed
    // nothing: 2 × 12.7 MB keyspace exchanges at sf0.1 for a 3-row answer.
    // Now the crossing price comes from the Quantiles-engine two-phase
    // WEIGHTED selection: ONE codegen hash-agg builds a per-flag
    // weight-histogram over price buckets (shuffle bounded by the value
    // domain / width, never by row count), a cumulative window over that
    // metadata-sized histogram locates each flag's crossing bucket, and a
    // second scan gathers ONLY that bucket's rows (runtime-guarded
    // bucket-bounded, the ADVICE-r12 assert_true discipline) to pool and
    // walk the exact crossing. The one remaining row-scale exchange is
    // countDistinct(price)'s pair dedup — the floor any exact distinct
    // count pays (Spark fuses it with sum(w) into one two-level agg).
    // WindowDecompositionSpec pins the decomposition value-equal to the
    // original cumulative-window formulation at two sfs.
    "agg_weighted_median" -> ((s, d) => {
      val base = t(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("price"),
          col("l_quantity").cast("long").as("w")).cache()
      // totals + distinct-price census in one pass (two-level agg: partial
      // dedup on (flag, price) map-side, ONE pair-keyed exchange)
      val tots = Materialize.cut(base.groupBy("flag")
        .agg(sum("w").as("totw"), countDistinct(col("price")).as("n_prices")), eager = false)
      val bkt = floor(col("price") / lit(64.0)).cast("long")
      // phase 1: weighted bucket histogram (codegen hash-agg, partial-agg
      // friendly; ~1.6k buckets/flag at the integer-dollar domain)
      val hist = Materialize.cut(base.groupBy(col("flag"), bkt.as("__b"))
        .agg(sum("w").as("__bw"), count(lit(1)).as("__bc")), eager = false)
      val hwin = Window.partitionBy("flag").orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
      // the flag's crossing bucket: first whose INCLUSIVE cum reaches
      // totw/2 — exactly one row per flag. The gather budget guard rides
      // the consumed __b column (Quantiles.exact's runtime skew guard).
      val target = hist
        .withColumn("__before", coalesce(sum("__bw").over(hwin), lit(0L)))
        .join(broadcast(tots.select(col("flag"), col("totw"))), "flag")
        .filter(col("__before") * 2 < col("totw") &&
          (col("__before") + col("__bw")) * 2 >= col("totw"))
        .select(col("flag"), col("__before"),
          when(assert_true(col("__bc") <= lit(graft.engine.Quantiles.GatherRowLimit),
            concat(lit("agg_weighted_median: crossing bucket exceeds the gather budget"),
              lit(" (count="), col("__bc").cast("string"), lit(")"))).isNull,
            col("__b")).as("__b"))
      // phase 2: gather ONLY the crossing bucket, pool weights per price,
      // walk the in-bucket cumulative (bucket-bounded frame — the window
      // is metadata-sized, same argument as the histogram cum above)
      val gathered = base.select(col("flag"), col("price"), col("w"), bkt.as("__b"))
        .join(broadcast(target), Seq("flag", "__b"))
        .groupBy(col("flag"), col("__before"), col("price"))
        .agg(sum("w").as("__pw"))
      val iwin = Window.partitionBy("flag").orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = gathered
        .withColumn("__cum", col("__before") + sum("__pw").over(iwin))
        .join(broadcast(tots.select(col("flag"), col("totw"))), "flag")
        .filter(col("__cum") * 2 >= col("totw"))
        .groupBy("flag").agg(min("price").as("wmed_price"))
      med.join(tots, "flag")
        .select("flag", "n_prices", "totw", "wmed_price")
        .orderBy("flag")
    }),

    // equi-width histogram with fixed literal bounds: bucket assignment is a
    // pure scan-side projection (no global min/max pass), partial-agg
    // friendly, and the capped top bucket keeps the domain total. The
    // streaming-safe histogram shape.
    "agg_hist_equiwidth" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("bucket", least(floor(col("o_totalprice") / 60000.0), lit(9.0)).cast("bigint"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(FP.qsum(col("o_totalprice"), 20), 4).as("sum_price"))
        .orderBy("bucket")),

    // ---- equi-DEPTH histogram (deciles by population, not by value range):
    // needs every row's global rank, which is the classic single-reducer
    // trap — so the rank comes from the same two-level scheme as
    // w3_every_kth: range-repartition on the sort key, per-partition local
    // row numbers, partition offsets via a broadcast prefix-sum of the
    // tiny per-partition count table. No global window anywhere; bucket
    // boundaries then fall out of pure integer arithmetic
    // (1 + (rn-1)*10 div N), which is also exactly how the DuckDB oracle's
    // row_number formulation buckets — remainder rows land in the LOW
    // buckets on both sides. The tie-break (price, orderkey) makes the
    // global order total, so bucketing is deterministic.
    "agg_hist_equidepth" -> ((s, d) => {
      val ranked = withGlobalRowNumbers(
        t(s, d, "orders").select("o_orderkey", "o_totalprice"),
        col("o_totalprice").asc, col("o_orderkey").asc)
      val n = ranked.agg(count(lit(1)).as("n_total"))
      ranked
        .crossJoin(broadcast(n))
        // (rn-1)*10/N in double is exact at every decile boundary for
        // N < 2^49 (integer operands, product < 2^53), so floor matches
        // the oracle's integer `//` division bit-for-bit.
        .withColumn("bucket",
          (lit(1) + floor((col("rn") - 1) * 10 / col("n_total"))).cast("bigint"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
             r4(min("o_totalprice")).as("lo"),
             r4(max("o_totalprice")).as("hi"),
             r4(FP.qmean(col("o_totalprice"), 20)).as("avg_price"))
        .orderBy("bucket")
    }),

    // ---- null-safe equality join (<=> / IS NOT DISTINCT FROM): ordinary
    // equi-joins drop null keys on the floor; the null-safe form makes NULL
    // a first-class join key — the semantics a dimension with an "unknown"
    // bucket needs. Planner note: Spark lowers `<=>` to an EqualNullSafe
    // equi-join key, so this still hash-partitions both sides (all nulls
    // co-locate in one partition — fine when the null bucket is one group's
    // worth of rows, the salting pattern in skew_salted_join otherwise).
    "j6_join_nullsafe" -> ((s, d) => {
      val fact = t(s, d, "lineitem")
        .select(nullif(col("l_returnflag"), lit("N")).as("k"), col("l_extendedprice"))
      val dim = fact.select(col("k").as("dk")).distinct()
      fact.join(dim, col("k") <=> col("dk"))
        .groupBy("dk")
        .agg(count(lit(1)).as("n"), r4(FP.qsum(col("l_extendedprice"), 20)).as("rev"))
        .orderBy(col("dk").asc_nulls_first)
    }),

    // ---- FULL OUTER join (§2.3 completion): the reconciliation shape —
    // two independently-aggregated sides (rich customers vs rich suppliers
    // per nation) aligned on nation, with rows preserved from BOTH sides
    // and a presence flag naming which side is missing. Scale shape: each
    // side reduces to nation-cardinality BEFORE the join, so the full
    // outer (which Spark cannot broadcast — it plans SortMergeJoin)
    // touches two group-count-sized frames, never the facts. The coalesce
    // of the two keys is the standard full-outer key recovery.
    "j7_join_full" -> ((s, d) => {
      val rc = t(s, d, "customer").filter(col("c_acctbal") > 9990)
        .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("n_rich_cust"))
      val rs = t(s, d, "supplier").filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_rich_supp"))
      rc.join(rs, col("ck") === col("sk"), "full_outer")
        .select(
          coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("n_rich_cust"), lit(0L)).as("n_rich_cust"),
          coalesce(col("n_rich_supp"), lit(0L)).as("n_rich_supp"),
          when(col("ck").isNotNull && col("sk").isNotNull, "both")
            .when(col("ck").isNull, "supplier_only")
            .otherwise("customer_only").as("presence"))
        .orderBy("nationkey")
    }),

    // ---- typed custom aggregates (engine.Aggregators) given a catalog
    // face: the Welford one-pass moments and the heap-based per-group top-k
    // run as partial→final aggregation exactly like built-ins (mergeable
    // buffers), oracle-checked against DuckDB's avg/stddev and window-rank
    // formulations. Variance-scale outputs compare as stddev rounded to 2
    // decimals — the two engines' one-pass algorithms agree to far finer.
    "agg_typed_moments" -> ((s, d) => {
      val mom = udaf(new graft.engine.Aggregators.WelfordMoments(),
        org.apache.spark.sql.Encoders.scalaDouble)
      t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(mom(col("o_totalprice")).as("m"))
        .select(col("o_orderstatus"), col("m._1").as("n"),
          r4(col("m._2")).as("mean"), round(sqrt(col("m._3")), 2).as("sd"))
        .orderBy("o_orderstatus")
    }),

    "agg_typed_topk" -> ((s, d) => {
      val topk = udaf(new graft.engine.Aggregators.TopK(3),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble))
      t(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(topk(col("o_orderkey"), col("o_totalprice")).as("ids"))
        .select(col("o_orderstatus"), posexplode(col("ids")))
        .select(col("o_orderstatus"), (col("pos") + 1).cast("bigint").as("rnk"),
          col("col").as("o_orderkey"))
        .orderBy("o_orderstatus", "rnk")
    }),

    // ---- W1 LAG / consecutive diff (f1_dataExtractor.py:283 Gear.diff()).
    // One shuffle on user_id, sort within partitions — at 100 TB this is the
    // canonical "repartition by entity, sort by time" sequence pattern.
    "w1_lag_diff" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("delta", col("value") - col("prev_value"))
        .withColumn("changed", coalesce(col("delta") =!= 0, lit(false)))
        .select("event_id", "user_id", "value", "prev_value", "delta", "changed")
        .orderBy("event_id")
    }),

    // ---- W1b gear-change count: lag → per-group conditional sum (A6).
    "w1_change_count" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .groupBy("user_id")
        .agg(sum(when(col("prev_type").isNotNull && col("event_type") =!= col("prev_type"), 1L)
               .otherwise(0L)).as("n_type_changes"),
             count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // ---- W2 timestamp shift by offset (f1_dataExtractor.py:212-243).
    "w2_ts_shift" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("due_date", col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .withColumn("shifted_by_key", expr("timestampadd(HOUR, o_orderkey % 24, o_orderdate)"))
        .select("o_orderkey", "o_orderdate", "due_date", "shifted_by_key")
        .orderBy("o_orderkey")),

    // ---- W3 even-index sampling (streamlit_app.py:300-302). Global row
    // numbers WITHOUT a single-partition window (the round-1 shape was a
    // scale-killer): range-partition on the sort key, sort within partitions,
    // take per-partition record numbers from monotonically_increasing_id
    // (documented layout: partition id << 33 | record index), then add
    // per-partition offsets. The offset prefix-sum is a join over ONE row per
    // partition — O(#partitions) driver-free work; the data itself sees one
    // 32-way range shuffle and no Window at all. (For heavy approximate
    // sampling df.sample/TABLESAMPLE remains the cheaper path; this is the
    // exact-stride variant.)
    "w3_every_kth" -> ((s, d) =>
      withGlobalRowNumbers(t(s, d, "events").select("event_id", "ts"),
          col("ts").asc, col("event_id").asc)
        .filter(col("rn") % 100 === 1)
        .select("rn", "event_id", "ts")
        .orderBy("rn")),

    // ---- W4 ranking (SURVEY §2.5 "natural reconstruction" of Position).
    "w4_rank_topn" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rnk", rank().over(w).cast("bigint"))
        .withColumn("drnk", dense_rank().over(w).cast("bigint"))
        .filter(col("rnk") <= 5)
        .select("o_orderstatus", "rnk", "drnk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderstatus", "rnk", "o_orderkey")
    }),

    // ---- W5 rolling frame aggregate (rowsBetween).
    "w5_rolling_avg" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-2, Window.currentRow)
      t(s, d, "events")
        .withColumn("roll_avg", r4(avg("value").over(w)))
        .withColumn("roll_max", max("value").over(w))
        .select("event_id", "user_id", "value", "roll_avg", "roll_max")
        .orderBy("event_id")
    }),

    // ---- W5b running/cumulative sum (unbounded preceding frame).
    "w5_running_sum" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("running_value", r4(sum("value").over(w)))
        .withColumn("n_so_far", count(lit(1)).over(w))
        .select("event_id", "user_id", "running_value", "n_so_far")
        .orderBy("event_id")
    }),

    // ---- W6: RANGE frame (value-based window — deterministic under ties,
    // unlike ROWS frames). PARTITION KEY IS THE SCALE LEVER (VERDICT r11
    // #6, measured): partitioned by o_orderstatus (3 values) every frame
    // spanned a ~50k-row slab on 3 tasks, and Spark's sliding aggregate
    // frame has no retraction — it RECOMPUTES the full frame per row, so
    // cost is n × avg-frame-size (~600 rows here), ~2.0 s warm at sf0.1
    // and a single-slab skew bomb at 100 TB. Re-keyed per ENTITY
    // (o_custkey: ~10k groups, frames of ~a dozen rows), the same RANGE
    // semantics cost n × tiny and parallelize with entity count —
    // the shape a value-banded window must have at scale.
    "w6_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"))
        .rangeBetween(-1000L, 1000L)
      t(s, d, "orders")
        .withColumn("nearby_sum", round(sum("o_totalprice").over(w), 4))
        .withColumn("nearby_n", count(lit(1)).over(w))
        .select("o_orderkey", "o_custkey", "o_totalprice", "nearby_sum", "nearby_n")
        .orderBy("o_orderkey")
    }),

    // ---- W7: ntile + nth_value over an explicit full frame.
    // OPTIMIZATION r14 (guide §2.5): `Window.partitionBy(o_orderstatus)`
    // clusters the whole table into 3 tasks — the unsplittable-key
    // straggler. Both functions are pure rank arithmetic, so they now
    // derive from the two-level per-group ranks (withGroupRowNumbers):
    // ntile(4) is the SQL-standard bucket formula over (rn_g, n_g) in
    // exact integer ops (first n%4 buckets one row larger), and
    // nth_value(key, 2) is the rank-2 row per group, a |groups|-sized
    // broadcast join. WindowDecompositionSpec pins both equal to the
    // built-ins; no operator in the plan holds a whole group.
    "w7_ntile_nth" -> ((s, d) => {
      val r = withGroupRowNumbers(
        t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        col("o_orderstatus"), col("o_totalprice").desc, col("o_orderkey").asc)
      // nth_value(o_orderkey, 2) = the rank-2 row per group under
      // (price desc, key asc) — derived by two tiny ordered-struct-max
      // aggregates over the scan (partial-agg friendly, |groups|-sized
      // shuffle) instead of rank-filtering `r`, which would execute the
      // whole two-level pipeline a second time. max(struct(price, -key))
      // IS the (price desc, key asc) argmax; the second pass excludes it.
      val byOrd = struct(col("o_totalprice"), (-col("o_orderkey")).as("nk"))
      val o2 = t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      val best = o2.groupBy(col("o_orderstatus").as("__bs")).agg(max(byOrd).as("__b1"))
      val second = o2.join(broadcast(best), col("o_orderstatus") === col("__bs"))
        .filter(byOrd < col("__b1"))
        .groupBy(col("o_orderstatus").as("__ss"))
        .agg((-max(byOrd).getField("nk")).as("second_best"))
      // ntile(4): q = n_g div 4, rem = n_g mod 4; ranks ≤ (q+1)·rem fall in
      // the padded buckets. Long `div`/`%` only — exact at any scale.
      r.withColumn("__q", expr("n_g div 4"))
        .withColumn("__rem", col("n_g") % 4)
        .withColumn("quartile",
          when(col("rn_g") <= (col("__q") + 1) * col("__rem"),
            expr("(rn_g - 1) div (__q + 1)") + 1)
            .otherwise(col("__rem") + expr("(rn_g - 1 - (__q + 1) * __rem) div __q") + 1)
          .cast("bigint"))
        .join(broadcast(second), col("o_orderstatus") === col("__ss"), "left")
        .select("o_orderkey", "o_orderstatus", "quartile", "second_best")
        .orderBy("o_orderkey")
    }),

    // ---- W8 relative-position functions: percent_rank ((rank-1)/(n-1))
    // and cume_dist (rows ≤ current / n) per status group — the CDF view
    // of a partitioned order. The (price, orderkey) tie-break makes ranks
    // unique, so both ratios are exact integer-over-integer divisions —
    // identical doubles in any engine; round(4) is belt-and-braces. Same
    // single-shuffle window shape as w4/w7.
    // OPTIMIZATION r14 (guide §2.5): same unsplittable-key straggler as w7
    // — the CDF pair is pure rank arithmetic over a UNIQUE total order
    // (the orderkey tie-break), so percent_rank = (rn_g−1)/(n_g−1) and
    // cume_dist = rn_g/n_g are single exact-integer divides off the
    // two-level per-group ranks; no 3-task window anywhere in the plan.
    "w8_percent_rank" -> ((s, d) =>
      withGroupRowNumbers(
        t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        col("o_orderstatus"), col("o_totalprice").asc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(when(col("n_g") === 1, lit(0.0))
            .otherwise((col("rn_g") - 1).cast("double") / (col("n_g") - 1).cast("double")), 4).as("pr"),
          round(col("rn_g").cast("double") / col("n_g").cast("double"), 4).as("cd"))
        .orderBy("o_orderkey")),

    // ---- O1/O2 sorts + O4 top-k. Top-k compiles to TakeOrderedAndProject:
    // per-partition heap + driver merge — no global sort at scale.
    "o1_sort_multikey" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") >= 48)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .orderBy(col("l_returnflag").asc, col("l_quantity").desc, col("l_orderkey").asc, col("l_linenumber").asc)),

    "o4_topk" -> ((s, d) =>
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")
        .limit(20)),

    // ---- beyond-reference: PIVOT (groupBy().pivot() with explicit values —
    // at scale always pass the value list; value discovery is an extra scan).
    "agg_pivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 4))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")),

    // ---- range join, scale-safe: purchases ⋈ errors of the same user within
    // ±10 minutes. A naive theta-join is a per-user cross product; the
    // bucketized plan joins on (user, time-bucket) for bucket and bucket±1 —
    // equi-join shuffle keys, candidates bounded by bucket width — then
    // applies the exact range predicate. The oracle computes the naive
    // inequality join; results must agree exactly.
    "range_join_bucketized" -> ((s, d) => {
      val width = 600L * 1000000 // 10-minute buckets in micros
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
        .withColumn("bucket", floor(col("p_us") / width).cast("long"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("user_id").as("e_user"), unix_micros(col("ts")).as("e_us"))
        .withColumn("e_bucket", floor(col("e_us") / width).cast("long"))
      val shifted = purchases.select(col("p_id"), col("user_id"), col("p_us"),
        explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("probe"))
      shifted.join(errors,
          shifted("user_id") === errors("e_user") && shifted("probe") === errors("e_bucket"))
        .filter(abs(col("p_us") - col("e_us")) <= width)
        .select(col("p_id"), col("e_id"), col("user_id"),
          // truncate-toward-zero on both sides (Spark double→long cast
          // truncates; DuckDB CAST rounds, so its oracle wraps with trunc())
          ((col("p_us") - col("e_us")) / 1000000.0).cast("long").as("delta_sec"))
        .distinct()
        .orderBy("p_id", "e_id")
    }),

    // ---- §2.7 set operations.
    "set_union" -> ((s, d) => {
      val hiBal = t(s, d, "customer").filter(col("c_acctbal") > 7000).select(col("c_custkey").as("k"))
      val urgent = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("k"))
      hiBal.union(urgent).distinct().orderBy("k")
    }),

    "set_intersect" -> ((s, d) => {
      val hiBal = t(s, d, "customer").filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
      val buyers = t(s, d, "orders").select(col("o_custkey").as("k"))
      hiBal.intersect(buyers).orderBy("k")
    }),

    "set_except" -> ((s, d) => {
      val all = t(s, d, "customer").select(col("c_custkey").as("k"))
      val urgent = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("k"))
      all.except(urgent).orderBy("k")
    })
  )

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  round(sum(l_quantity), 4) AS sum_qty,
         |  round(${SqlText.qsum("l_extendedprice", 20)}, 4) AS sum_base_price,
         |  round(${SqlText.qsum("l_extendedprice * (1 - l_discount)", 20)}, 4) AS sum_disc_price,
         |  round(${SqlText.qsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 20)}, 4) AS sum_charge,
         |  round(avg(l_quantity), 4) AS avg_qty,
         |  round(${SqlText.qmean("l_extendedprice", 20)}, 4) AS avg_price,
         |  round(${SqlText.qmean("l_discount", 30)}, 4) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_quantity > 0
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  round(${SqlText.qsum("l_extendedprice * (1 - l_discount)", 20)}, 4) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q6_forecast_revenue" ->
      s"""SELECT round(${SqlText.qsum("l_extendedprice * l_discount", 20)}, 4) AS revenue, count(*) AS n
         |FROM lineitem
         |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q5_region_volume" ->
      s"""SELECT n_name,
         |  round(${SqlText.qsum("l_extendedprice * (1 - l_discount)", 20)}, 4) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= '1995-01-01' AND o_orderdate < '1999-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "agg_mode" ->
      """SELECT o_orderstatus, mode_priority, cnt FROM (
        |  SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |    count(*) AS cnt,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 4) AS tot_qty
        |  FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 4) > 150)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_date,
        |  round(o_totalprice, 4) AS o_totalprice, tot_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q10_returned_revenue" ->
      s"""SELECT c_custkey, c_name, n_name,
         |  round(${SqlText.qsum("l_extendedprice * (1 - l_discount)", 20)}, 4) AS revenue
         |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "q14_promo_share" ->
      s"""SELECT
         |  round(100.0 * ${SqlText.qsum(
             "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 20)}
         |    / ${SqlText.qsum("l_extendedprice * (1 - l_discount)", 20)}, 4) AS promo_share,
         |  count(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'""".stripMargin,

    "q19_disjunctive" ->
      s"""SELECT round(${SqlText.qsum("l_extendedprice * (1 - l_discount)", 20)}, 4) AS revenue,
         |  count(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |        AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |        AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q7_volume_shipping" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |  count(*) AS n_lines,
         |  round(${SqlText.qsum("l_extendedprice * (1.0 - l_discount)", 20)}, 4) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // both sums ride the same 2^20 quantization; the share is one divide
    // on the two unrounded fixed-point doubles
    "q8_market_share" ->
      """WITH sn AS (SELECT s_suppkey AS sk, n_name AS supp_nation
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        |cr AS (SELECT c_custkey AS ck, r_name
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |f AS (SELECT o_orderdate, supp_nation,
        |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 1048576.0 + 0.5) AS BIGINT) AS q
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cr ON o_custkey = ck
        |  JOIN sn ON l_suppkey = sk
        |  WHERE r_name = 'AMERICA')
        |SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN q ELSE 0 END) AS DOUBLE)
        |    / 1048576.0, 4) AS nation_rev,
        |  round(CAST(sum(q) AS DOUBLE) / 1048576.0, 4) AS total_rev,
        |  round((CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN q ELSE 0 END) AS DOUBLE)
        |      / 1048576.0)
        |    / (CAST(sum(q) AS DOUBLE) / 1048576.0), 6) AS mkt_share
        |FROM f GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q13_cust_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_custkey) AS c_count
        |  FROM customer LEFT JOIN (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority != '1-URGENT') o
        |  ON c_custkey = o_custkey GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // same decorrelated per-part qmean; the 0.2 cut and the /7.0 are
    // literal IEEE ops on the fixed-point aggregates
    "q17_small_qty" ->
      s"""WITH pp AS (SELECT l_partkey, ${SqlText.qmean("l_quantity")} AS avg_qty
         |  FROM lineitem GROUP BY l_partkey)
         |SELECT count(*) AS n_lines,
         |  round(${SqlText.qsum("l_extendedprice", 20)} / 7.0, 4) AS avg_yearly
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#11'
         |JOIN pp USING (l_partkey)
         |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,

    "q21_single_blame" ->
      """WITH l AS (SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |po AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp,
        |    max(CASE WHEN late THEN l_suppkey END) AS blame
        |  FROM l GROUP BY l_orderkey)
        |SELECT blame AS s_suppkey, count(*) AS numwait FROM po
        |WHERE n_supp > 1 AND n_late_supp = 1
        |GROUP BY blame ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,

    "q22_idle_rich" ->
      s"""WITH thr AS (SELECT ${SqlText.qround(SqlText.qmean("c_acctbal"), 4)} AS thr
         |  FROM customer WHERE c_acctbal > 0),
         |idle AS (SELECT c_mktsegment, c_acctbal FROM customer
         |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'))
         |SELECT c_mktsegment, count(*) AS numcust,
         |  round(${SqlText.qsum("c_acctbal", 20)}, 4) AS totbal
         |FROM idle CROSS JOIN thr
         |WHERE c_acctbal > thr
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the offer book and the min ride exact fixed-point BIGINTs; only the
    // final display divide is floating
    "q2_min_cost_supp" ->
      """WITH offers AS (
        |  SELECT l_partkey AS o_pk, l_suppkey AS o_sk,
        |    min(CAST(floor((l_extendedprice / l_quantity) * 1048576.0 + 0.5) AS BIGINT)) AS cost_q
        |  FROM lineitem GROUP BY 1, 2),
        |elig AS (
        |  SELECT s_suppkey, s_name, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |ro AS (SELECT * FROM offers JOIN elig ON o_sk = s_suppkey),
        |mp AS (SELECT o_pk AS m_pk, min(cost_q) AS min_q FROM ro GROUP BY 1)
        |SELECT p_partkey, p_name, s_name, n_name,
        |  round(CAST(cost_q AS DOUBLE) / 1048576.0, 4) AS unit_cost
        |FROM ro JOIN mp ON o_pk = m_pk AND cost_q = min_q
        |JOIN part ON o_pk = p_partkey
        |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'SMALL'
        |ORDER BY p_partkey, s_name LIMIT 100""".stripMargin,

    "q9_product_profit" ->
      s"""SELECT n_name AS nation,
         |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  count(*) AS n_lines,
         |  ${SqlText.qround(SqlText.qsum(
              "l_extendedprice * (1.0 - l_discount) - 0.6 * p_retailprice * l_quantity", 20), 4)}
         |    AS profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q11_important_stock" ->
      """WITH pv AS (
        |  SELECT l_partkey AS p_partkey,
        |    sum(CAST(floor(l_extendedprice * 1048576.0 + 0.5) AS BIGINT)) AS vq
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_3')
        |  GROUP BY 1),
        |tot AS (SELECT sum(vq) AS tq FROM pv)
        |SELECT p_partkey, round(CAST(vq AS DOUBLE) / 1048576.0, 4) AS part_value
        |FROM pv CROSS JOIN tot
        |WHERE CAST(vq AS DOUBLE) > 0.001 * CAST(tq AS DOUBLE)
        |ORDER BY part_value DESC, p_partkey""".stripMargin,

    "q12_late_shipments" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    // revenue stays BIGINT through the max-equality probe — no double
    // equality anywhere
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1048576.0 + 0.5) AS BIGINT)) AS rev_q
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |  round(CAST(rev_q AS DOUBLE) / 1048576.0, 4) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_q = (SELECT max(rev_q) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_census" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand != 'Brand#5' AND p_type != 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q20_excess_suppliers" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(CAST(floor(l_quantity * 1048576.0 + 0.5) AS BIGINT)) AS sq
        |  FROM lineitem
        |  WHERE year(l_shipdate) = 1997
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, sum(sq) AS tq FROM ps GROUP BY 1)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
        |WHERE s_suppkey IN (
        |  SELECT ps.l_suppkey FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
        |  WHERE CAST(sq AS DOUBLE) > 0.5 * CAST(tq AS DOUBLE))
        |ORDER BY s_name""".stripMargin,

    "sub_not_in_null_trap" ->
      """WITH v_subkeys AS (SELECT CASE WHEN c_acctbal < 0 THEN c_custkey END AS nullable_key
        |  FROM customer)
        |SELECT
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT nullable_key FROM v_subkeys)) AS n_not_in,
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM v_subkeys s
        |                     WHERE s.nullable_key = o.o_custkey)) AS n_not_exists""".stripMargin,

    "agg_filter_clause" ->
      """SELECT o_orderstatus,
        |  count(*) AS n,
        |  CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
        |  CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_large,
        |  min(o_orderkey) FILTER (WHERE o_totalprice > 200000) AS first_large
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_grouping_id" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |  round(${SqlText.qsum("o_totalprice", 20)}, 4) AS rev,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS LAST, o_orderpriority ASC NULLS LAST""".stripMargin,

    // DuckDB's nth_value/first_value/last_value take the same explicit
    // frames; cume_dist is the same exact integer ratio
    "w10_dist_frames" ->
      """SELECT o_orderpriority, rn, o_orderkey, cum_frac, third_key, top_key, bottom_key
        |FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    round(cume_dist() OVER w, 6) AS cum_frac,
        |    nth_value(o_orderkey, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_key,
        |    first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top_key,
        |    last_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_key
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC))
        |WHERE rn <= 5
        |ORDER BY o_orderpriority, rn""".stripMargin,

    "sub_lateral_topn" ->
      """SELECT n_name, c.c_custkey, c.c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin,

    "w9_running_distinct" ->
      """SELECT event_type, event_id, ts,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS distinct_users_so_far
        |FROM (SELECT event_type, event_id, ts,
        |        row_number() OVER (PARTITION BY event_type, user_id
        |          ORDER BY ts, event_id) AS rn
        |      FROM events)
        |ORDER BY event_type, event_id""".stripMargin,

    "sql_multi_cte" ->
      """WITH rev AS (SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue
        |             FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderpriority, count(*) AS n_orders, round(sum(revenue), 4) AS total_rev
        |FROM orders JOIN rev ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "agg_winsorize" ->
      s"""WITH bands AS (SELECT l_returnflag,
         |    quantile_cont(l_extendedprice, 0.05) AS p05,
         |    quantile_cont(l_extendedprice, 0.95) AS p95
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, count(*) AS n,
         |  round(${SqlText.qmean("l_extendedprice", 20)}, 4) AS raw_mean,
         |  round(${SqlText.qmean("least(greatest(l_extendedprice, p05), p95)", 20)}, 4) AS winsor_mean,
         |  round(any_value(p05), 4) AS p05, round(any_value(p95), 4) AS p95
         |FROM lineitem JOIN bands USING (l_returnflag)
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // identical integer hash ladder, identical fixed-point replica means
    // (exact-long numerator/denominator), identical FP second pass for the
    // spread — the whole resample replays deterministically
    "agg_bootstrap_ci" ->
      s"""WITH rws AS (SELECT l_returnflag,
         |    l_orderkey * 8 + l_linenumber AS rk, l_extendedprice AS x, r
         |  FROM lineitem, range(0, 16) t(r)),
         |hs AS (SELECT l_returnflag, x, r,
         |    (rk * 2654435761 + (r + 1) * 40503) % 1000003 AS h FROM rws),
         |ws AS (SELECT l_returnflag, x, r,
         |    CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
         |         WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
         |         WHEN h < 996340 THEN 4 ELSE 5 END AS w FROM hs),
         |reps AS (SELECT l_returnflag, r,
         |    ${SqlText.qsum("x * w", 20)} / sum(w) AS m
         |  FROM ws GROUP BY 1, 2),
         |center AS (SELECT l_returnflag, ${SqlText.qmean("m", 20)} AS bm
         |  FROM reps GROUP BY 1),
         |fin AS (SELECT l_returnflag, count(*) AS n_replicas, any_value(bm) AS bm,
         |    ${SqlText.qsum("(m - bm) * (m - bm)", 20)} AS ss
         |  FROM reps JOIN center USING (l_returnflag) GROUP BY 1)
         |SELECT l_returnflag, n_replicas, round(bm, 4) AS boot_mean,
         |  round(sqrt(ss / CAST(n_replicas - 1 AS DOUBLE)), 4) AS boot_se,
         |  round(bm - 1.96 * sqrt(ss / CAST(n_replicas - 1 AS DOUBLE)), 4) AS ci_lo,
         |  round(bm + 1.96 * sqrt(ss / CAST(n_replicas - 1 AS DOUBLE)), 4) AS ci_hi
         |FROM fin ORDER BY l_returnflag""".stripMargin,

    // the oracle ranks with a plain global row_number — the two-phase
    // bucket rank on the Spark side must land on the identical total order
    "agg_gini_concentration" ->
      """WITH rev AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 16.0 + 0.5) AS BIGINT)) AS BIGINT) AS rq
        |  FROM orders GROUP BY o_custkey),
        |rk AS (SELECT o_custkey, rq,
        |    CAST(row_number() OVER (ORDER BY rq, o_custkey) AS BIGINT) AS r FROM rev),
        |tot AS (SELECT count(*) AS n, CAST(sum(rq) AS BIGINT) AS tq,
        |    CAST(sum(r * rq) AS BIGINT) AS srq FROM rk),
        |top AS (SELECT CAST(sum(rq) AS BIGINT) AS topq FROM rk, tot
        |        WHERE r > n - n // 10)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round((2.0 * CAST(srq AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(tq AS DOUBLE))
        |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 4) AS gini,
        |  round(CAST(topq AS DOUBLE) / CAST(tq AS DOUBLE), 4) AS top10_share
        |FROM tot, top""".stripMargin,

    "agg_median_per_entity" ->
      """SELECT l_suppkey, count(*) AS n,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "agg_mad" ->
      """WITH med AS (SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.5) AS med
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, count(*) AS n,
        |  round(any_value(med), 4) AS median_price,
        |  round(quantile_cont(abs(l_extendedprice - med), 0.5), 4) AS mad,
        |  round(stddev_pop(l_extendedprice), 4) AS stddev
        |FROM lineitem JOIN med USING (l_returnflag)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "opt_reused_exchange" ->
      s"""WITH daily AS (SELECT coalesce(date_trunc('day', ts), TIMESTAMP '1970-01-01') AS day,
         |    count(*) AS n, round(${SqlText.qsum("value", 20)}, 4) AS day_value
        |  FROM events GROUP BY 1)
        |SELECT a.day AS day, a.n AS n, b.n AS prev_n,
        |  (round(a.day_value - b.day_value, 4) + 0.0) AS delta_value
        |FROM daily a JOIN daily b ON a.day = b.day + INTERVAL 1 DAY
        |ORDER BY day""".stripMargin,

    "agg_corr_regr" ->
      """SELECT l_returnflag, count(*) AS n,
        |  (round(corr(l_quantity, l_extendedprice), 4) + 0.0) AS corr_qp,
        |  (round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0) AS slope,
        |  (round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "p1_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p3_derived" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1 - l_discount), 4) AS revenue,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p4_unpivot" ->
      """SELECT p_partkey, attr, val FROM (
        |  SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part)
        |ORDER BY p_partkey, attr""".stripMargin,

    "p5_nulldrop" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE value IS NOT NULL AND props IS NOT NULL AND event_type IS NOT NULL
        |ORDER BY event_id""".stripMargin,

    "p6_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 25 AND l_quantity <= 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p7_bool" ->
      """SELECT l_orderkey, l_linenumber, (l_discount > 0.05) AS is_discounted
        |FROM lineitem WHERE l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p8_equality" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin,

    "p9_inlist" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') ORDER BY o_orderkey""".stripMargin,

    "j1_join_broadcast" ->
      s"""SELECT p_brand, round(${SqlText.qsum("l_extendedprice", 20)}, 4) AS brand_revenue, count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "j2_join_left" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "j3_join_semi" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,

    "j4_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "j5_join_multiway" ->
      s"""SELECT r_name, n_name,
         |  round(${SqlText.qsum("l_extendedprice * (1 - l_discount)", 20)}, 4) AS revenue,
         |  count(*) AS n_lines
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "sub_correlated" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
        |FROM orders o
        |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5
        |                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "sub_in_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,

    "a4_bool_any" ->
      """SELECT event_type, bool_or(value > 200) AS any_big,
        |  bool_and(value >= 0) AS all_nonneg, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a5_first_per_group" ->
      """SELECT user_id, event_type AS first_type, value AS first_value FROM (
        |  SELECT user_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "a7_multiagg" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         |  round(min(o_totalprice), 4) AS min_price,
         |  round(max(o_totalprice), 4) AS max_price,
         |  round(${SqlText.qmean("o_totalprice", 20)}, 4) AS avg_price,
        |  min(o_orderdate) AS first_date,
        |  max(o_orderdate) AS last_date
        |FROM orders GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "a8_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",

    "a9_null_census" ->
      """SELECT count(*) AS n_rows, count(value) AS n_value_nonnull,
        |  count(*) - count(value) AS n_value_null,
        |  count(DISTINCT user_id) AS n_users
        |FROM events""".stripMargin,

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "agg_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(${SqlText.qsum("o_totalprice", 20)}, 4) AS sum_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "agg_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |  round(${SqlText.qsum("o_totalprice", 20)}, 4) AS sum_price
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "agg_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_typed_moments" ->
      """SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 4) AS mean,
        |  round(stddev_samp(o_totalprice), 2) AS sd
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_typed_topk" ->
      """SELECT o_orderstatus, rnk, o_orderkey FROM (
        |  SELECT o_orderstatus, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk
        |  FROM orders) WHERE rnk <= 3
        |ORDER BY o_orderstatus, rnk""".stripMargin,

    "agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  (round(corr(l_quantity, l_extendedprice), 4) + 0.0) AS corr_qty_price,
        |  (round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0) AS covar_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_percentile_exact" ->
      """SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 4) AS median,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90, count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // same per-value weight pooling + cumulative window; the lower
    // weighted median is min(price) at the 2*cumw >= totw crossing
    "agg_weighted_median" ->
      """WITH pw AS (SELECT l_returnflag AS flag, l_extendedprice AS price,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |tots AS (SELECT flag, CAST(sum(w) AS BIGINT) AS totw,
        |    CAST(count(*) AS BIGINT) AS n_prices FROM pw GROUP BY flag),
        |c AS (SELECT flag, price,
        |    sum(w) OVER (PARTITION BY flag ORDER BY price) AS cumw FROM pw)
        |SELECT c.flag AS flag, max(n_prices) AS n_prices, max(totw) AS totw,
        |  min(price) AS wmed_price
        |FROM c JOIN tots ON c.flag = tots.flag
        |WHERE cumw * 2 >= totw
        |GROUP BY c.flag ORDER BY flag""".stripMargin,

    "agg_hist_equiwidth" ->
      s"""SELECT CAST(least(floor(o_totalprice / 60000.0), 9.0) AS BIGINT) AS bucket,
         |  count(*) AS n, round(${SqlText.qsum("o_totalprice", 20)}, 4) AS sum_price
         |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,

    "agg_hist_equidepth" ->
      s"""SELECT CAST(1 + ((rn - 1) * 10) // n_total AS BIGINT) AS bucket,
         |  count(*) AS n, round(min(o_totalprice), 4) AS lo,
         |  round(max(o_totalprice), 4) AS hi, round(${SqlText.qmean("o_totalprice", 20)}, 4) AS avg_price
        |FROM (SELECT o_totalprice,
        |        row_number() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
        |        count(*) OVER () AS n_total
        |      FROM orders)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "j7_join_full" ->
      """WITH rc AS (SELECT c_nationkey AS ck, count(*) AS n_rich_cust
        |  FROM customer WHERE c_acctbal > 9990 GROUP BY 1),
        |rs AS (SELECT s_nationkey AS sk, count(*) AS n_rich_supp
        |  FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
        |SELECT coalesce(ck, sk) AS nationkey,
        |  CAST(coalesce(n_rich_cust, 0) AS BIGINT) AS n_rich_cust,
        |  CAST(coalesce(n_rich_supp, 0) AS BIGINT) AS n_rich_supp,
        |  (CASE WHEN ck IS NOT NULL AND sk IS NOT NULL THEN 'both'
        |        WHEN ck IS NULL THEN 'supplier_only'
        |        ELSE 'customer_only' END) AS presence
        |FROM rc FULL JOIN rs ON ck = sk
        |ORDER BY nationkey""".stripMargin,

    "j6_join_nullsafe" ->
      s"""WITH fact AS (SELECT nullif(l_returnflag, 'N') AS k, l_extendedprice FROM lineitem),
         |dim AS (SELECT DISTINCT k AS dk FROM fact)
         |SELECT dk, count(*) AS n, round(${SqlText.qsum("l_extendedprice", 20)}, 4) AS rev
         |FROM fact JOIN dim ON k IS NOT DISTINCT FROM dk
         |GROUP BY dk ORDER BY dk NULLS FIRST""".stripMargin,

    "w1_lag_diff" ->
      """SELECT event_id, user_id, value, prev_value, value - prev_value AS delta,
        |  coalesce(value - prev_value != 0, false) AS changed
        |FROM (SELECT event_id, user_id, value,
        |        lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_value
        |      FROM events)
        |ORDER BY event_id""".stripMargin,

    "w1_change_count" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN prev_type IS NOT NULL AND event_type != prev_type THEN 1 ELSE 0 END) AS BIGINT) AS n_type_changes,
        |  count(*) AS n_events
        |FROM (SELECT user_id, event_type,
        |        lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
        |      FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "w2_ts_shift" ->
      """SELECT o_orderkey, o_orderdate,
        |  o_orderdate + INTERVAL 30 DAY AS due_date,
        |  o_orderdate + to_hours(o_orderkey % 24) AS shifted_by_key
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "w3_every_kth" ->
      """SELECT rn, event_id, ts FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY ts ASC, event_id ASC) AS BIGINT) AS rn, event_id, ts
        |  FROM events) WHERE rn % 100 = 1 ORDER BY rn""".stripMargin,

    "w4_rank_topn" ->
      """SELECT o_orderstatus, rnk, drnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    CAST(rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk,
        |    CAST(dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS drnk
        |  FROM orders) WHERE rnk <= 5
        |ORDER BY o_orderstatus, rnk, o_orderkey""".stripMargin,

    "w5_rolling_avg" ->
      """SELECT event_id, user_id, value,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS roll_avg,
        |  max(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_max
        |FROM events ORDER BY event_id""".stripMargin,

    "w5_running_sum" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
        |FROM events ORDER BY event_id""".stripMargin,

    "w6_range_frame" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING), 4) AS nearby_sum,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS nearby_n
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "w7_ntile_nth" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS quartile,
        |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_best
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "w8_percent_rank" ->
      """SELECT o_orderkey, o_orderstatus,
        |  round(percent_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC), 4) AS pr,
        |  round(cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC), 4) AS cd
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "o1_sort_multikey" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem
        |WHERE l_quantity >= 48
        |ORDER BY l_returnflag ASC, l_quantity DESC, l_orderkey ASC, l_linenumber ASC""".stripMargin,

    "o4_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "agg_pivot" ->
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_f,
        |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "range_join_bucketized" ->
      """SELECT p.event_id AS p_id, e.event_id AS e_id, p.user_id,
        |  CAST(trunc((epoch_us(p.ts) - epoch_us(e.ts)) / 1000000.0) AS BIGINT) AS delta_sec
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id
        | AND abs(epoch_us(p.ts) - epoch_us(e.ts)) <= 600 * 1000000
        |ORDER BY p_id, e_id""".stripMargin,

    "set_union" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 7000
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY k""".stripMargin,

    "set_intersect" ->
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
        |INTERSECT
        |SELECT o_custkey FROM orders
        |ORDER BY k""".stripMargin,

    "set_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY k""".stripMargin
  )
}
