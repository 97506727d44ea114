package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the physical plans must be the ones we'd accept at
  * 100 TB — filters at the scan, pruned read schemas, broadcast dims, partial
  * aggregation, single shuffles. A correctness-green query with a wrong plan
  * fails HERE. */
class PlanQualitySpec extends AnyFunSuite with SharedSparkSpec {
  private val d = "/root/testdata/sf0.001"
  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("p6_range: predicate reaches the parquet scan (PushedFilters)") {
    val p = planOf("p6_range")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25"),
      s"filter not pushed:\n$p")
  }

  test("p1_project: scan reads exactly the projected columns") {
    val p = planOf("p1_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"),
      s"column pruning failed:\n$p")
  }

  test("j1/j5: dimension joins broadcast (no fact-side shuffle for the join)") {
    val p1 = planOf("j1_join_broadcast")
    assert(p1.contains("BroadcastHashJoin"), s"part-dim join must broadcast:\n$p1")
    val p5 = planOf("j5_join_multiway")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p5).length
    assert(broadcasts == 4, s"expected 4 broadcast joins in the star chain, got $broadcasts:\n$p5")
  }

  test("q1_agg: two-phase hash aggregation (map-side partial)") {
    val p = planOf("q1_agg")
    assert(p.contains("HashAggregate"), s"expected hash agg:\n$p")
    assert("partial_sum".r.findAllIn(p).nonEmpty, s"expected partial aggregation:\n$p")
  }

  test("w1_lag_diff: exactly one exchange (hash on user_id), sort within partitions") {
    val p = planOf("w1_lag_diff")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
    assert(p.contains("hashpartitioning(user_id"), s"window must shuffle on user_id:\n$p")
  }

  test("o4_topk: compiles to TakeOrderedAndProject (no global sort)") {
    val p = planOf("o4_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must avoid a full sort:\n$p")
  }

  test("j3_join_semi: plans as a semi join, not inner+distinct") {
    val p = planOf("j3_join_semi")
    assert(p.contains("LeftSemi"), s"expected LeftSemi:\n$p")
  }

  test("w3_every_kth: global row numbers without any Window operator") {
    val p = planOf("w3_every_kth")
    // round 1 shipped row_number() over a global Window.orderBy — a
    // single-partition scale-killer. The two-level scheme must compile to a
    // range exchange + per-partition sort, with NO Window node anywhere.
    assert(!p.contains("Window"), s"w3 must not plan a Window operator:\n$p")
    assert(p.contains("Exchange rangepartitioning"), s"expected a range exchange:\n$p")
  }

  test("bj_colocated_join: bucketed scans join with no exchange on the join keys") {
    val p = planOf("bj_colocated_join")
    assert(p.contains("Bucketed: true"), s"expected bucketed scans:\n$p")
    assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
           !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle its inputs:\n$p")
  }

  test("skew_salted_join: join shuffles on (key, salt), spreading the hot key") {
    val p = planOf("skew_salted_join")
    assert(p.contains("ShuffledHashJoin"), s"expected shuffle-hash join:\n$p")
    assert(p.contains("hashpartitioning(skey") && p.contains("salt"),
      s"join must partition on (skey, salt):\n$p")
  }

  test("tx_token_count: text ops stay in one stage over the scan (no shuffle before sort)") {
    val p = planOf("tx_token_count")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 0, s"row-wise text ops must not shuffle:\n$p")
  }

  test("nested_dotpath_agg: nested schema pruning — scan reads ONLY the meta leaves") {
    val p = planOf("nested_dotpath_agg")
    // Dremel payoff: the repeated attrs column and the fat payload string
    // must be absent from the parquet ReadSchema, not just dropped later.
    assert(p.contains("ReadSchema: struct<meta:struct<etype:string,uid:bigint>>"),
      s"nested pruning failed (attrs/payload still read):\n$p")
  }

  test("nested_inline_agg: scan reads only the attrs leaves (no meta/payload)") {
    val p = planOf("nested_inline_agg")
    assert(p.contains("ReadSchema: struct<attrs:array<struct<k:string,v:bigint>>>"),
      s"inline agg must read only attrs:\n$p")
    assert("partial_sum".r.findAllIn(p).nonEmpty, s"expected partial aggregation:\n$p")
  }

  test("pp_partition_pruned: o_year predicate becomes a PartitionFilter, not a data filter") {
    val p = planOf("pp_partition_pruned")
    assert(p.contains("PartitionFilters:") && p.contains("o_year") && p.contains("= 1995"),
      s"expected partition pruning on o_year:\n$p")
    // the predicate must NOT appear as a pushed data filter — it is resolved
    // against directory names at planning time, reading one partition
    assert(!p.contains("PushedFilters: [IsNotNull(o_year"),
      s"o_year must prune partitions, not filter rows:\n$p")
  }

  test("etl_partition_evolution: both generations prune, gen2 on the evolved month key") {
    val p = planOf("etl_partition_evolution")
    // two scans, each with partition filters; the evolved generation's
    // filter mentions o_month (directory-level), the old one only o_year
    val scans = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(p).toList
    assert(scans.size >= 2, s"expected two pruned scans in:\n$p")
    assert(scans.exists(f => f.contains("o_month")),
      s"gen2 must prune on the evolved o_month key:\n$p")
    assert(scans.forall(f => f.contains("o_year")),
      s"both generations must prune on o_year:\n$p")
  }

  test("tx_pack_greedy: packing windows per shard, never a global single-partition sort") {
    val p = planOf("tx_pack_greedy")
    assert(p.contains("hashpartitioning(shard"),
      s"cumulative offsets must shuffle on shard:\n$p")
    assert(!p.contains("SinglePartition"),
      s"packing must not collapse to one partition:\n$p")
  }

  test("dd_simhash_sig: native fused expression keeps simhash scan-side (one exchange total)") {
    val p = planOf("dd_simhash_sig")
    assert(p.contains("simhash24(token_hashes("),
      s"expected the fused native expression in the projection:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, // only the output sort's range exchange
      s"simhash must not shuffle before the output sort, got $exchanges exchanges:\n$p")
    assert(!p.contains("Generate "), s"no explode in the native path:\n$p")
  }

  test("st_session_transcript: one hash exchange on user_id feeds window + aggregate") {
    val p = planOf("st_session_transcript")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"session assignment must shuffle on user_id:\n$p")
  }

  test("emb_kmeans_step: seeds broadcast; struct-min argmin collapses in partial aggregation") {
    val p = planOf("emb_kmeans_step")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"seed frame must broadcast (k rows):\n$p")
    assert(p.contains("partial_min(struct(dist2"),
      s"argmin must run as a PARTIAL struct-min before the vec_id exchange:\n$p")
    assert(!p.contains("Window"), s"no window operator in the argmin path:\n$p")
  }

  test("q5_region_volume: date range pushed to the orders scan; dims broadcast") {
    val p = planOf("q5_region_volume")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"date range must reach the orders scan:\n$p")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2, s"supplier/nation star dims must broadcast:\n$p")
  }

  test("st_view_purchase: the time-range predicate rides the user equi-join, no cartesian") {
    val p = planOf("st_view_purchase")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"attribution must stay an equi-join on user_id:\n$p")
    assert(p.contains("unix_micros") || p.contains("purchase_ts"),
      s"time bound must appear as a join post-condition:\n$p")
  }

  test("emb_pq_error: codebook broadcasts; subvector argmin is windowless") {
    val p = planOf("emb_pq_error")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the 32-row codebook must broadcast:\n$p")
    assert(p.contains("partial_min(struct(dist2"),
      s"per-subvector argmin must collapse in partial aggregation:\n$p")
    assert(!p.contains("Window"), s"no window operator in the PQ assignment path:\n$p")
  }

  test("sim_ivfpq_topk: codebook/LUT/probe broadcast; code argmin is windowless partial-min") {
    val p = planOf("sim_ivfpq_topk")
    assert(p.contains("BroadcastExchange"),
      s"the codebook, query LUT, and probed-label frames must broadcast:\n$p")
    assert(p.contains("partial_min(struct(dist2"),
      s"per-subvector code assignment must collapse in partial aggregation:\n$p")
    assert(!p.contains("Window"), s"no window operator in the serving funnel:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"every cross join must have a broadcast one-row/tiny side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the ADC shortlist cut and final top-5 must be TakeOrdered, not global sorts:\n$p")
  }

  test("agg_hist_equidepth: global decile ranks without any Window operator") {
    val p = planOf("agg_hist_equidepth")
    assert(!p.contains("Window"),
      s"equi-depth buckets must use the two-level range scheme, not a global window:\n$p")
    assert(p.contains("rangepartitioning"),
      s"expected a range repartition on the sort key:\n$p")
  }

  test("tx_sample_weighted: bounded TopK aggregation, no per-group window sort") {
    val p = planOf("tx_sample_weighted")
    assert(!p.contains("Window"),
      s"the weighted draw must use the mergeable TopK aggregator, not a rank window:\n$p")
    assert(p.contains("partial_topk") || p.contains("TopK"),
      s"expected the typed TopK aggregator in partial aggregation:\n$p")
  }

  test("j6_join_nullsafe: null-safe equality still plans as a hash-partitioned equi-join") {
    val p = planOf("j6_join_nullsafe")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"<=> must lower to an equi-join key, not a nested-loop predicate:\n$p")
  }

  test("layout_file_skipping: the band scan touches fewer data files than the layout holds") {
    // force the first-use layout write, then inspect the pruned read's scan
    SparkEntry.queries("layout_file_skipping")(spark, d).collect()
    // the layout path carries Layouts.tag's staleness fingerprint — the
    // ad-hoc sanitized tag this test originally used silently passed while
    // a stale r7-tagged layout lingered on /tmp and failed once it was gone
    val tag = graft.engine.Layouts.tag(d)
    val pruned = graft.engine.FileSkipping
      .survivors(spark, s"/tmp/graft_filestats/lineitem_$tag", "l_extendedprice", 2000.0, 15000.0)
    assert(pruned.nonEmpty && pruned.length < 8,
      s"expected strict file pruning, kept ${pruned.length} of 8")
  }

  test("tx_dup_ngram_fraction: gram-key shuffle layout, no cartesian anywhere") {
    val p = planOf("tx_dup_ngram_fraction")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"corpus sharing structure must ride the gram-key equi-join:\n$p")
    assert(p.contains("hashpartitioning(gram"),
      s"expected the doc-frequency join to shuffle on the gram key:\n$p")
  }

  test("q4_priority_exists: EXISTS lowers to a semi join carrying the non-equi residual") {
    val p = planOf("q4_priority_exists")
    assert(p.contains("LeftSemi"), s"expected a semi join, not inner+distinct:\n$p")
    assert(p.contains("l_shipdate") && p.contains("> o_orderdate"),
      s"the shipdate>orderdate residual must ride the semi join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1996-01-01"),
      s"the order-date range must reach the orders scan:\n$p")
  }

  test("q10_returned_revenue: top-20 via TakeOrderedAndProject; returnflag pushed") {
    val p = planOf("q10_returned_revenue")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must avoid a global sort:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"the returnflag filter must reach the lineitem scan:\n$p")
  }

  test("ts_resample_ohlc: OHLC bars are ONE hash aggregation — no Window, no self-join") {
    val p = planOf("ts_resample_ohlc")
    assert(!p.contains("Window"), s"OHLC must not plan a Window operator:\n$p")
    assert(p.contains("partial_min_by") && p.contains("partial_max_by"),
      s"open/close must be mergeable min_by/max_by partial aggregates:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 hash exchange, got $exchanges:\n$p")
  }

  test("opt_reused_exchange: the self-joined daily rollup reuses one exchange (single scan)") {
    // ReusedExchange appears in the ADAPTIVE plan after AQE stage planning;
    // executing the query materializes the final plan
    val df = SparkEntry.queries("opt_reused_exchange")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(p.contains("Reused") || scans == 1,
      s"the identical aggregated subplan must be computed once:\n$p")
  }

  test("agg_winsorize: percentile bands broadcast back — no row-level window over the fact") {
    val p = planOf("agg_winsorize")
    assert(!p.contains("Window"), s"clamping must not sort the fact:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the 3-row band table must broadcast:\n$p")
  }

  test("sub_not_in_null_trap: null-aware NOT IN plans as an anti join, not a nested loop scan") {
    val p = planOf("sub_not_in_null_trap")
    assert(p.contains("LeftAnti"), s"both subqueries must lower to anti joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian for existence tests:\n$p")
  }

  test("pp_dynamic_pruning: runtime year set reaches the fact scan as a dynamic PartitionFilter") {
    SparkEntry.queries("pp_dynamic_pruning")(spark, d).collect() // first-use layout write
    val p = planOf("pp_dynamic_pruning")
    assert(p.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in the fact scan's PartitionFilters:\n$p")
  }

  test("agg_bitmap_distinct: bitmap words OR-merge in partial aggregation (no expand/distinct)") {
    val p = planOf("agg_bitmap_distinct")
    assert(p.contains("partial_bit_or"),
      s"bitmap words must merge map-side:\n$p")
    assert(!p.contains("Expand") && !p.toLowerCase.contains("distinct"),
      s"the whole point is no count-distinct machinery:\n$p")
  }

  test("tx_fuzzy_join: fuzzy match rides a hash equi-join on the block key (no nested loop)") {
    val p = planOf("tx_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edit-distance verify must stay inside prefix-equality blocks:\n$p")
    assert(p.contains("hashpartitioning(blk") || p.contains("BroadcastHashJoin"),
      s"expected a blk equi-join:\n$p")
  }

  test("tx_bigram_lm: count tables collapse in partial aggregation before the score joins") {
    val p = planOf("tx_bigram_lm")
    assert(p.contains("partial_count"), s"LM counts must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cross products in the score join:\n$p")
  }

  test("emb_whitening: the 64-row per-dim stats broadcast back onto the exploded frame") {
    val p = planOf("emb_whitening")
    assert(p.contains("BroadcastHashJoin"), s"the stats side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in fit-then-transform:\n$p")
  }

  test("ts_ewma: the recurrence shuffles once on user_id (keyed state, no extra exchange)") {
    val p = planOf("ts_ewma")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 hash exchange, got $exchanges:\n$p")
  }

  test("AQE coalesces over-provisioned shuffle partitions after tiny aggregations") {
    // shuffle.partitions is sized for the big scans; AQE shrinks the
    // post-shuffle side when the data turns out small — the runtime knob
    // that makes one static setting survive 100 TB and 100 MB alike
    val df = SparkEntry.queries("q1_agg")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead coalesced"),
      s"expected AQE partition coalescing on the 6-group aggregate:\n$p")
  }

  test("bitmap distinct word/bit arithmetic stays exact at the edges of the 64-bit id domain") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a double divide would collapse adjacent ids past 2^53; truncating div
    // would collide -1 with 63 — shiftright+mask must count all of these
    val ids = Seq(Long.MaxValue, Long.MaxValue - 1, Long.MaxValue - 64,
      -1L, -63L, -64L, -65L, 0L, 1L, 63L, 64L, (1L << 53) + 1, (1L << 53) + 2)
    val n = ids.toDF("user_id")
      .select(shiftright(col("user_id"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id & 63 AS INT))").as("bit"))
      .groupBy("w").agg(bit_or(col("bit")).as("word"))
      .agg(sum(bit_count(col("word")))).collect()(0).getLong(0)
    assert(n == ids.distinct.size, s"expected ${ids.distinct.size} distinct, bitmap counted $n")
  }

  test("etl_incremental_rollup: facts scanned once per generation, merge over rollup frames") {
    val p = planOf("etl_incremental_rollup")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 filtered scans (base, delta), got $scans:\n$p")
    // the merge must re-aggregate the unioned ROLLUPS, not join facts
    assert("partial_sum".r.findAllIn(p).nonEmpty, s"expected partial aggregation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"MV merge must be union+agg, never a join:\n$p")
  }

  test("etl_snapshot_read: snapshot pins broadcast; no fact-side shuffle for the pin join") {
    val p = planOf("etl_snapshot_read")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 4-row snapshot frame must broadcast:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"history must not be rebuilt per snapshot, got $scans scans:\n$p")
  }

  test("src_pushdown_agg: the scan answers the aggregate (no row generation)") {
    val p = planOf("src_pushdown_agg")
    assert(p.contains("pushedAggregates=[count,min,max]"),
      s"aggregate must push into the DSv2 scan:\n$p")
  }

  test("tx_cdc_chunks: native chunker explodes directly over the scan (no pre-shuffle)") {
    val p = planOf("tx_cdc_chunks")
    assert(p.contains("explode(cdc_chunks("),
      s"expected the native cdc_chunks expression under the explode:\n$p")
    // the Generate must consume the FileScan without an intervening exchange
    val genIdx = p.indexOf("Generate explode(cdc_chunks")
    val scanIdx = p.indexOf("FileScan parquet", math.max(genIdx, 0))
    assert(genIdx >= 0 && scanIdx > genIdx,
      s"expected Generate over a FileScan in:\n$p")
    val betw = p.substring(genIdx, scanIdx)
    assert(!betw.contains("Exchange"), s"chunking must be scan-side:\n$p")
  }

  test("q7_volume_shipping: bilateral-trade star joins without a cartesian; nation dims broadcast") {
    val p = planOf("q7_volume_shipping")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the nation-pair disjunction must ride equi-joins, never a cross product:\n$p")
    val bc = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bc >= 2, s"both nation dims must broadcast, got $bc:\n$p")
  }

  test("q2_min_cost_supp: decorrelated min rides equi-joins; region/nation/part dims broadcast") {
    val p = planOf("q2_min_cost_supp")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the correlated-min decorrelation must never plan a cross product:\n$p")
    val bc = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bc >= 3, s"region/nation/part dims must broadcast, got $bc:\n$p")
  }

  test("q15_top_supplier: pushed shipdate range + broadcast scalar-max probe") {
    val p = planOf("q15_top_supplier")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
           p.contains("GreaterThanOrEqual(l_shipdate"),
      s"the quarter range must reach the parquet scan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin") ||
           p.contains("BroadcastExchange"),
      s"the one-row max must broadcast, never shuffle the revenue frame:\n$p")
  }

  test("q20_excess_suppliers: both probes are semi-joins (existence, no fan-out)") {
    val p = planOf("q20_excess_suppliers")
    assert("LeftSemi".r.findAllIn(p).length >= 2,
      s"the part-family and excess-supplier probes must both plan LeftSemi:\n$p")
  }

  test("sub_lateral_topn: the correlated LATERAL limit decorrelates to a window rank, not a rescan") {
    val p = planOf("sub_lateral_topn")
    assert(!p.contains("CartesianProduct"),
      s"the lateral must not plan a per-nation cartesian rescan:\n$p")
    assert(p.contains("Window") || p.contains("TakeOrdered"),
      s"expected the decorrelated window-rank (w4_rank_topn's plan) from SQL text:\n$p")
  }

  test("join hints are honored: MERGE forces sort-merge, BROADCAST forces broadcast") {
    // the escape hatch when the optimizer's size estimate is wrong at
    // 100 TB — both directions must actually flip the physical join
    graft.engine.Tables.load(spark, d, "orders").createOrReplaceTempView("h_orders")
    graft.engine.Tables.load(spark, d, "customer").createOrReplaceTempView("h_customer")
    val merged = spark.sql(
      """SELECT /*+ MERGE(h_customer) */ count(*) AS n
        |FROM h_orders JOIN h_customer ON o_custkey = c_custkey""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(merged.contains("SortMergeJoin") && !merged.contains("BroadcastHashJoin"),
      s"MERGE hint must suppress the broadcast:\n$merged")
    val bcast = spark.sql(
      """SELECT /*+ BROADCAST(h_customer) */ count(*) AS n
        |FROM h_orders JOIN h_customer ON o_custkey = c_custkey""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(bcast.contains("BroadcastHashJoin"),
      s"BROADCAST hint must force the broadcast:\n$bcast")
  }

  test("j7_join_full: both sides aggregate BEFORE the full outer join") {
    val p = planOf("j7_join_full")
    assert(p.contains("FullOuter"), s"the reconciliation join must be full outer:\n$p")
    // the join's inputs must be the two aggregated frames, not raw scans:
    // each side shows a partial→final HashAggregate below the join
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"both sides must reduce to nation cardinality before joining:\n$p")
  }

  test("q13_cust_distribution: zero-order customers survive (left join, not inner)") {
    val p = planOf("q13_cust_distribution")
    assert(p.contains("LeftOuter") || p.contains("RightOuter"),
      s"the customer-preserving join must be outer:\n$p")
  }

  test("opt_cbo_reorder: column stats flip the join tree (fact table joins LAST)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // running the face ensures the ANALYZEd catalog tables exist and returns
    // the CBO-session DataFrame
    val dfOn = SparkEntry.queries("opt_cbo_reorder")(spark, d)
    val topOn = dfOn.queryExecution.optimizedPlan.collectFirst { case j: Join => j }.get
    def rels(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String = p.toString
    val (lOn, rOn) = (rels(topOn.left), rels(topOn.right))
    val reordered =
      (lOn.contains("cbo_orders") && !lOn.contains("cbo_customer") &&
        rOn.contains("cbo_customer") && rOn.contains("cbo_nation")) ||
      (rOn.contains("cbo_orders") && !rOn.contains("cbo_customer") &&
        lOn.contains("cbo_customer") && lOn.contains("cbo_nation"))
    assert(reordered,
      s"CBO must start from the selective customer⋈nation side, orders joining last:\nleft=$lOn\nright=$rOn")
    // control: the same SQL WITHOUT CBO keeps the written (worst) order —
    // orders⋈customer first, nation last — proving the flip is the stats'
    // doing, not the parser's
    val tag = graft.engine.Layouts.tag(d)
    val s3 = spark.newSession()
    val dfOff = s3.sql(
      s"""SELECT n_name, count(*) AS n_orders
         |FROM cbo_orders_$tag o
         |JOIN cbo_customer_$tag c ON o.o_custkey = c.c_custkey
         |JOIN cbo_nation_$tag n ON c.c_nationkey = n.n_nationkey
         |WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_21')
         |GROUP BY n_name""".stripMargin)
    val topOff = dfOff.queryExecution.optimizedPlan.collectFirst { case j: Join => j }.get
    val (lOff, rOff) = (rels(topOff.left), rels(topOff.right))
    assert(lOff.contains("cbo_orders") && lOff.contains("cbo_customer") &&
           rOff.contains("cbo_nation") && !rOff.contains("cbo_orders"),
      s"without CBO the written order must survive:\nleft=$lOff\nright=$rOff")
  }

  test("etl_deletion_vectors: the DV sidecar anti-applies via broadcast, never sort-merge") {
    val p = planOf("etl_deletion_vectors")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"the data path must probe the DV as a broadcast left join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join on the data path would shuffle every base row at scale:\n$p")
  }

  test("dd_record_linkage: ONE blocked candidate join, census partial-aggregates") {
    val p = planOf("dd_record_linkage")
    val joins = "BroadcastHashJoin".r.findAllIn(p).length +
      "SortMergeJoin".r.findAllIn(p).length
    assert(joins == 1, s"candidate generation must be exactly one blocked equi-join, got $joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"linkage must never go all-pairs:\n$p")
    assert(p.contains("partial_count"), s"census must partial-aggregate map-side:\n$p")
  }

  test("ts_autocorr: broadcast lag-pair join over the calendar-bounded frame, partial moment sums") {
    val p = planOf("ts_autocorr")
    assert(p.contains("BroadcastHashJoin"),
      s"the day-frame pair join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join on a calendar-bounded frame:\n$p")
    assert(p.contains("partial_sum"), s"moment sums must partial-aggregate:\n$p")
  }

  test("graph_betweenness: above the size gate the state broadcasts disappear; results are gate-independent") {
    // below-gate (the catalog path on every test sf): state frames carry
    // broadcast hints, so the INITIAL plan — lazy checkpoints give AQE no
    // stats to improve on — broadcasts the state into the adjacency joins
    // plan assertions read the UNTRUNCATED build (checkpoints hide the
    // loop's joins inside RDD lineage); execution uses the real path
    // below. Auto-broadcast is disabled for BOTH explains so what the
    // assertions see is exactly what the GATE contributes — at test sf
    // the tiny adjacency parquet would otherwise auto-broadcast on size,
    // which is legitimate planning but not the subject here.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    val (pHinted, pCo) = try {
      spark.conf.set(thresholdKey, "-1")
      (graft.engine.Materialize.unrolled(graft.queries.Graph
        .betweennessAt(spark, d, broadcastState = true))
        .queryExecution.sparkPlan.toString,
       graft.engine.Materialize.unrolled(graft.queries.Graph
        .betweennessAt(spark, d, broadcastState = false))
        .queryExecution.sparkPlan.toString)
    } finally spark.conf.set(thresholdKey, saved)
    assert("BroadcastHashJoin".r.findAllIn(pHinted).length >= 7,
      s"hinted plan must broadcast the state side in every round:\n$pHinted")
    // above-gate (the 100 TB-node shape, VERDICT r10 #5): no hints — the
    // plan must NOT broadcast the unbounded state frames anywhere; every
    // state⋈adjacency join is a co-partitioned shuffle join
    assert(!pCo.contains("BroadcastHashJoin") && !pCo.contains("BroadcastExchange"),
      s"above the gate no state frame may broadcast:\n$pCo")
    assert(pCo.contains("SortMergeJoin") || pCo.contains("ShuffledHashJoin"),
      s"co-partitioned variant must shuffle-join on the node key:\n$pCo")
    // the gate changes the plan, never the answer (real truncated path)
    val a = graft.queries.Graph.betweennessAt(spark, d, broadcastState = true)
      .collect().map(_.toString).toSeq
    val b = graft.queries.Graph.betweennessAt(spark, d, broadcastState = false)
      .collect().map(_.toString).toSeq
    assert(a == b, s"gate variants disagree:\n$a\nvs\n$b")
  }

  /** Shared gate-pin harness (VERDICT r12 #1, the betweenness precedent)
    * for every face that hints node-sized state frames: explains the
    * hinted and co-partitioned variants with auto-broadcast DISABLED (so
    * what the assertions see is exactly what the gate contributes — at
    * test sf the tiny frames would otherwise auto-broadcast on size,
    * legitimate planning but not the subject), asserts the hint drives
    * every state broadcast below the gate and none above it, then proves
    * the gate changes the plan, never the answer, on the real truncated
    * execution path. The cache is cleared per variant: a cached subplan
    * from one variant must not substitute into the other's plan. */
  private def pinGate(name: String,
                      planAt: Boolean => org.apache.spark.sql.DataFrame,
                      execAt: Boolean => org.apache.spark.sql.DataFrame,
                      minHintedBhj: Int): Unit = {
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    def planOf(hinted: Boolean): String = {
      spark.sharedState.cacheManager.clearCache()
      planAt(hinted).queryExecution.sparkPlan.toString
    }
    val (pHinted, pCo) = try {
      spark.conf.set(thresholdKey, "-1")
      (planOf(true), planOf(false))
    } finally spark.conf.set(thresholdKey, saved)
    assert("BroadcastHashJoin".r.findAllIn(pHinted).length >= minHintedBhj,
      s"$name: hinted plan must broadcast the node-sized state in every round:\n$pHinted")
    // the 1-row census/two_m crossJoins legitimately stay BNLJ-broadcast
    // at any scale — the subject is the node-sized equi-join state
    assert(!pCo.contains("BroadcastHashJoin"),
      s"$name: above the gate no state frame may broadcast-hash-join:\n$pCo")
    assert(pCo.contains("SortMergeJoin") || pCo.contains("ShuffledHashJoin"),
      s"$name: co-partitioned variant must shuffle-join on the node key:\n$pCo")
    spark.sharedState.cacheManager.clearCache()
    val a = execAt(true).collect().map(_.toString).toSeq
    spark.sharedState.cacheManager.clearCache()
    val b = execAt(false).collect().map(_.toString).toSeq
    assert(a == b, s"$name: gate variants disagree:\n$a\nvs\n$b")
  }

  test("graph_scc_coloring: node-state hints gated; co-partitioned above; gate-independent results") {
    // explain one phase (an untruncated two-phase plan squares the
    // unrolled lineage); the hint routing is identical per phase
    pinGate("graph_scc_coloring",
      h => graft.engine.Materialize.unrolled(graft.queries.Graph.sccColoringAt(spark, d, h, phases = 1)),
      h => graft.queries.Graph.sccColoringAt(spark, d, h),
      // forward: 2 hints × 4 rounds; backward: 3 hints × 4 rounds
      minHintedBhj = 20)
  }

  test("graph_lpa_communities: label-table hints gated; co-partitioned above; gate-independent results") {
    pinGate("graph_lpa_communities",
      h => graft.engine.Materialize.unrolled(graft.queries.Graph.lpaAt(spark, d, h)),
      h => graft.queries.Graph.lpaAt(spark, d, h),
      // 4 rounds × (edge⋈labels + census prev-join)
      minHintedBhj = 8)
  }

  test("graph_kcore: survivor-set hints gated; co-partitioned above; gate-independent results") {
    pinGate("graph_kcore",
      h => graft.engine.Materialize.unrolled(graft.queries.Graph.kcoreAt(spark, d, h)),
      h => graft.queries.Graph.kcoreAt(spark, d, h),
      // 5 rounds × (src and dst restriction joins)
      minHintedBhj = 10)
  }

  test("graph_louvain_move: lookup-side hints gated; co-partitioned above; gate-independent results") {
    pinGate("graph_louvain_move",
      h => graft.engine.Materialize.unrolled(graft.queries.Graph.louvainMoveAt(spark, d, h)),
      h => graft.queries.Graph.louvainMoveAt(spark, d, h),
      // own/deg/tot_a/tot_b on the move frame + the newComm map + the
      // tagged endpoint joins
      minHintedBhj = 7)
  }

  test("graph_rank_converged: lazy-path rank hints gated; co-partitioned above; gate-independent results") {
    pinGate("graph_rank_converged",
      h => graft.engine.Materialize.unrolled(graft.queries.Graph.rankConvergedAt(spark, d, h)),
      h => graft.queries.Graph.rankConvergedAt(spark, d, h),
      // 5 rounds × (edge⋈rank + node⋈mass)
      minHintedBhj = 10)
  }

  test("graph_ppr: rank/mass hints gated; co-partitioned above; gate-independent results") {
    pinGate("graph_ppr",
      h => graft.engine.Materialize.unrolled(graft.queries.Graph.pprAt(spark, d, h)),
      h => graft.queries.Graph.pprAt(spark, d, h),
      // 4 rounds × (edge⋈rank + seeded⋈mass) + the seed left join
      minHintedBhj = 8)
  }

  // ---- the ANN module's corpus-row hints (VERDICT r13 #1 — the twin of
  // the graph gate, one module over): same pinGate harness, same contract.
  // The ground-truth corpus×sample crossJoin stays a broadcast-NLJ below
  // the gate and falls to the planner's cartesian above it — the subject
  // of the BHJ assertions is the equi-join lookup frames.

  test("sim_nndescent: endpoint-lookup hints gated; co-partitioned above; gate-independent results") {
    pinGate("sim_nndescent",
      h => graft.engine.Materialize.unrolled(graft.queries.Similarity.nndescentAt(spark, d, h)),
      h => graft.queries.Similarity.nndescentAt(spark, d, h),
      // 3 scored graphs × (⋈ea + ⋈eb) + 3 recall censuses ⋈exact
      minHintedBhj = 9)
  }

  test("sim_hnsw_levels: layer-search lookup hints gated; co-partitioned above; gate-independent results") {
    // explain a 1-round-per-layer schedule (an untruncated 8-round stack
    // squares the visited-set lineage); the hint routing is identical per
    // round. Execution runs the face's committed schedule on both sides.
    pinGate("sim_hnsw_levels",
      h => graft.engine.Materialize.unrolled(graft.queries.Similarity.hnswLevelsAt(spark, d, l2b = 5, l1b = 7,
        l1r = 1, l0b = 9, l0r = 1, l0e = 8, entries = 3,
        bcVec = Some(h))),
      h => graft.queries.Similarity.hnswLevelsAt(spark, d, l2b = 5, l1b = 7,
        l1r = 1, l0b = 9, l0r = 5, l0e = 8, entries = 3, bcVec = Some(h)),
      // 4 scoring rounds × (⋈cv + ⋈q) + 4 censuses ⋈exact
      minHintedBhj = 12)
  }

  test("sim_triplet_mining: anchor/candidate lookup hints gated; co-partitioned above; gate-independent results") {
    pinGate("sim_triplet_mining",
      h => graft.queries.Similarity.tripletMiningAt(spark, d, h),
      h => graft.queries.Similarity.tripletMiningAt(spark, d, h),
      // pool ⋈ anchor-frame + pool ⋈ candidate-frame
      minHintedBhj = 2)
  }

  // ---- the RELATIONAL module's scaled-table hints (the ungated-hint
  // class VERDICT r12/r13 found in graph and ANN, closed proactively):
  // TPC-H customer/supplier/part grow with sf, so their hints — and
  // hints on frames derived from them — route through
  // Relational.scaledHintOn (engine.Broadcasts on the base table's
  // footer row count). q3 is the pinned representative; the gate unit
  // test proves the row-limit flip.

  test("q3_shipping_priority: scaled-customer hint gated; co-partitioned above; gate-independent results") {
    pinGate("q3_shipping_priority",
      h => graft.queries.Relational.q3At(spark, d, h),
      h => graft.queries.Relational.q3At(spark, d, h),
      // the filtered-customer dim join
      minHintedBhj = 1)
  }

  test("broadcast-hint gate: a table of n rows fits at limit n, not at n - 1") {
    import graft.engine.Broadcasts
    val nodes = graft.queries.Graph.nodesPath(spark, d) // publishes the layout on first use
    for (p <- Seq(s"$d/customer.parquet", s"$d/embeddings.parquet", nodes)) {
      val n = graft.engine.Tables.rowCount(spark, p)
      assert(n > 0, p)
      assert(Broadcasts.fits(spark, p, n), p)
      assert(!Broadcasts.fits(spark, p, n - 1), p)
    }
    // the test-sf tables stay hinted (the drift fingerprints are below-gate)
    assert(graft.queries.Relational.scaledHintOn(spark, d, "customer"))
    assert(graft.queries.Similarity.embHintGate(spark, d))
    assert(graft.queries.Graph.nodeHintGate(spark, d))
  }

  test("sim_knn_join_idx: cell equi-join co-partitioned; only the constant centroid frame broadcasts") {
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      spark.sharedState.cacheManager.clearCache()
      val p = graft.SparkEntry.queries("sim_knn_join_idx")(spark, d)
        .queryExecution.sparkPlan.toString
      // the k=16 centroid frame stays a broadcast-NLJ (constant-size at
      // any scale); the subject is the corpus-row frames: neither side
      // of the cell join may be forced into a broadcast build
      assert(!p.contains("BroadcastHashJoin"),
        s"no corpus-proportional frame may broadcast-hash-join:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"the cell join must shuffle on the blocking key:\n$p")
    } finally spark.conf.set(thresholdKey, saved)
  }

  test("sim_index_insert: edge-rescore/beam/census lookup hints gated; co-partitioned above; gate-independent results") {
    pinGate("sim_index_insert",
      h => graft.engine.Materialize.unrolled(graft.queries.Similarity.indexInsertAt(spark, d, h)),
      h => graft.queries.Similarity.indexInsertAt(spark, d, h),
      // 2 edge re-scores × 2 lookup sides + 4 beam-scoring rounds ×
      // 2 lookup sides (cand vector + query vector — the r15 narrow
      // frontier re-attaches qv at scoring time) + 4 census ⋈ exact joins
      minHintedBhj = 12)
  }

  test("sim_index_insert: narrow frontier — no exchange carries the query-vector array (OPTIMIZATION r15)") {
    // The search-then-link beam state is (qid, cand, cos); qv is attached
    // only inside scoring joins, below any exchange. If qv reappears in an
    // Exchange input list the 512-B array is riding the frontier again —
    // at a corpus/2-sized insert batch that was 72 MB of the catalog's
    // largest shuffle (448/448 qid-exchanges carried qv in the r15
    // before-plan, kept in the git history of round 15).
    val p = graft.engine.Materialize.unrolled(graft.queries.Similarity.indexInsertAt(spark, d,
        graft.queries.Similarity.embHintGate(spark, d)))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val exchangeInputs = """\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeInputs.nonEmpty, "expected Exchange nodes in the untruncated plan")
    val offenders = exchangeInputs.filter(in =>
      Seq("qv#", "cv#", "va#", "vb#").exists(in.contains))
    assert(offenders.isEmpty,
      s"vector arrays must not cross an exchange; offending Exchange inputs:\n${offenders.mkString("\n")}")
  }
}
