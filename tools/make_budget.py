#!/usr/bin/env python3
"""Regenerate BENCH_BUDGET.json from >=2 quiet-window bench_detail runs.

Usage: python3 tools/make_budget.py --sf <sf_dir> [--out BENCH_BUDGET.json]
                                    <bench_detail1.json> <bench_detail2.json> [...]

The budget file freezes each query's quiet-window WARM time at the graded
sf (VERDICT r12 #6). graft.Bench loads it on every run whose sf matches
"_sf" and flags any query whose warm time exceeds 1.5x its
window-inflation-adjusted budget with a 0.75 s absolute excess.

MULTI-RUN RULE (VERDICT r13 #2): a single run freezes that run's
transients as budgets — r13 committed graph_jaccard_linkpred at an
in-bench 1.26 s (isolated median 0.72) and dd_winnowing at 2.07 (isolated
1.75), desensitizing the guard ~2x for exactly the queries it first
caught. The budget is therefore the PER-QUERY MEDIAN across at least two
quiet runs (for an even count, the lower-middle: ties err toward the
tighter budget); a query present in only some runs (a face added between
them) takes the median of the runs that have it. Each run's `warm` is
already the median of graft.Bench's three warm passes; regenerate ONLY
from quiet fresh-layout runs and review the diff like any plan change. A
quiet run has narrow per-query warm_max - warm_min spreads: the script
prints, per run, how many queries of >= 0.2 s spread by more than 10% of
their warm time, and the widest of them.
"""
import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("details", nargs="+", help="bench_detail json files (>=2 for a real freeze)")
    ap.add_argument("--sf", required=True, help="sf dir the budgets are valid for")
    ap.add_argument("--out", default="BENCH_BUDGET.json")
    args = ap.parse_args()

    if len(args.details) < 2:
        print("WARNING: single-run freeze — transients become budgets (VERDICT r13 #2); pass >=2 quiet runs")

    per_query: dict[str, list[float]] = {}
    for path in args.details:
        with open(path) as f:
            detail = json.load(f)
        wide = []
        for q in detail["queries"]:
            per_query.setdefault(q["name"], []).append(q["warm"])
            spread = q["warm_max"] - q["warm_min"]
            if q["warm"] >= 0.2 and spread > 0.1 * q["warm"]:
                wide.append((spread / q["warm"], q["name"]))
        wide.sort(reverse=True)
        print(f"{path}: {len(wide)} queries >= 0.2 s spread > 10% of warm; widest: "
              + ", ".join(f"{n} {r:.0%}" for r, n in wide[:5]))

    doc = {
        "_sf": args.sf,
        "_source": args.details,
        "_note": ("per-query MEDIAN (lower-middle on even counts) of warm seconds across "
                  f"{len(args.details)} quiet run(s); Bench flags warm > 1.5x the "
                  "inflation-adjusted budget with 0.75 s absolute excess"),
    }
    for name in sorted(per_query):
        times = sorted(per_query[name])
        doc[name] = round(times[(len(times) - 1) // 2], 3)
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {args.out}: {len(per_query)} budgets "
          f"(median over {len(args.details)} runs) at {args.sf}")


if __name__ == "__main__":
    main()
