package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.RoundStrip

/** VERDICT r4 item 2 + r5 signed-zero follow-up: every catalog query that
  * rounds an ORDER-SENSITIVE float aggregate (moment-based corr/regr/
  * stddev/covar, avg/sum of doubles not yet migrated to fixed-point) must
  * keep every output cell far from a 10^-k/2 rounding boundary at the
  * driver's graded scale — otherwise shuffle-merge ulp noise can flip the
  * rounded digit between runs and poison a future round's hash compare.
  *
  * Separately, EVERY audited query — deterministic or not — must
  * canonicalize signed zeros: a rounded column with negative cells that is
  * not `qround`-shaped (`round(x,k) + 0.0`) can emit Spark `+0.0` vs
  * DuckDB `-0.0` for a tiny negative (the r5 `emb_kmeans_step` root
  * cause), which is value-equal but bit-unequal under the driver's hash.
  *
  * Classification lives in ONE place — MarginAudit's sets — so this spec
  * and the standalone full-catalog audit cannot drift (ADVICE r5: tx_tfidf
  * was listed order-sensitive here but integer-exact there; tfidf =
  * tf·log(n_docs/df) is a per-row function of exact integers, so it is
  * deterministic and now comes from MarginAudit.integerExactQueries). */
class RoundingMarginSpec extends AnyFunSuite with SharedSparkSpec {
  private val d = "/root/testdata/sf0.01"

  /** Queries whose final rounded doubles still fold order-sensitively:
    * moment-based corr/regr/stddev/covar merges can't be fixed-pointed
    * without changing their semantics, so they live or die by margin. (The
    * magnitudes here are ≤ ~1e4, so 64·ulp is far below the 5e-5 grid.) */
  private val orderSensitive = Seq(
    "agg_corr_regr", "agg_mad", "emb_pca_power", "tx_zipf_fit")

  /** Deterministic by construction (fixed-point aggregates or integer-exact
    * ratios) — driven from MarginAudit so the two layers agree; audited for
    * signed-zero exposure and to document the margins. */
  private val deterministicQs =
    (MarginAudit.fixedPointQueries ++ MarginAudit.integerExactQueries)
      .toSeq.sorted.filter(SparkEntry.queries.contains)
      // ts_gapfill's rounds live BELOW the forward-fill join (inside the
      // hourly CTE), outside RoundStrip's top-chain scope — the audit main
      // simply skips it; the spec would false-fail on "nothing to audit".
      // graph_adamic_adar's aa round likewise sits below the r9 hub-cap
      // census crossJoin; its sum is FP.qsum (order-independent), and
      // FacesInvariantSpec bounds the rounded value directly.
      // sim_binary_hamming's cos round sits below the exact-top-5 left
      // join (the scored frame feeds both join sides); it is a per-row
      // cosine of two fixed vectors, no aggregate, so no merge order can
      // move it.
      .filterNot(Set("ts_gapfill", "graph_adamic_adar", "sim_binary_hamming"))

  // the spec's classification must be total over MarginAudit's sets: a
  // query added there but dropped here would silently skip the gate
  test("orderSensitive and deterministic sets are disjoint") {
    val overlap = orderSensitive.toSet & deterministicQs.toSet
    assert(overlap.isEmpty, s"queries classified both ways: $overlap")
  }

  for ((name, det) <- orderSensitive.map((_, false)) ++ deterministicQs.map((_, true)))
    test(s"$name: rounding margins + signed-zero canonicalization (sf0.01)") {
      val worst = RoundStrip.audit(SparkEntry.queries(name)(spark, d))
      try {
        if (det) assume(worst.nonEmpty, s"$name has no top-chain rounded double output")
        else assert(worst.nonEmpty, s"$name has no rounded double output to audit")
        for ((colName, cell) <- worst) {
          // signed-zero rule applies to every query: negative cells in a
          // rounded column require the qround canonicalization on BOTH
          // engine sides, or the -0 class bites at some scale factor
          assert(!(cell.negExposed && !cell.canonicalized),
            s"$name.$colName carries negative cells but does not round " +
              "through qround (round(x,k) + 0.0) — Spark +0.0 vs DuckDB " +
              "-0.0 on a tiny negative fails the driver's bit hash" +
              (if (cell.negZeroLive) " (LIVE -0 cell at sf0.01)" else ""))
          // RDIV rule (r7 tx_quality_model failure) applies to every query,
          // deterministic included: Spark rounds the shortest decimal repr,
          // DuckDB the exact binary — a non-dyadic half-boundary value
          // rounds differently on the two engines every single run
          assert(!cell.engineRoundMismatch,
            s"$name.$colName: a cell sits on a NON-DYADIC half boundary — " +
              "Spark and DuckDB round() disagree deterministically; round " +
              "in integer arithmetic on both sides instead")
          // margin bar: order-sensitive only; a deterministic value is the
          // same double every run on both engines, so any distance —
          // including an exact boundary tie — is safe (ADVICE r5)
          if (!det) {
            val b = MarginAudit.bar(cell.ulp)
            assert(cell.dist >= b,
              f"$name.$colName: value ${cell.value}%.12g sits ${cell.dist}%.3e from a rounding " +
                f"boundary (bar $b%.3e) — migrate this aggregate to FixedPoint.qsum/qmean")
          }
        }
      } finally spark.sharedState.cacheManager.clearCache()
    }
}
