"""Re-derive ``workloads.json``: the frozen query lists of the two query
classes of the ``catalog`` workload, with the evidence they were picked on.

One JVM runs every ``SparkEntry.queries`` entry once with the benchmark's
listener attached (counting the jobs each query function runs besides
schema inference), checks it against its DuckDB oracle, then times one
untraced pass. A query is a candidate when it passes its oracle and writes
no /tmp layout. Candidates whose function runs no eager job feed
``catalog_scan``; the others feed ``catalog_iterative``. Each list takes
the fastest member of each family (name prefix), largest families first,
while the summed warm latency fits the class's pass budget: as many
families as the budget allows. The budgets bound the length of one
benchmark run, whose JVM start, set-ups and warm-up already take ~25 s.

Run it with ``python3 perfbench/run.py --select``.
"""
import json
import os
import re
import shutil
import time

import oracle

PASS_BUDGET_S = {"catalog_scan": 1.5, "catalog_iterative": 2.0}
WHY = {
    "catalog_scan": "query functions run no Spark job besides schema inference, so all work "
                    "is load, plan and execute; the no-change control for build-layer changes",
    "catalog_iterative": "query functions run eager jobs (checkpoint cascades, iterative "
                         "graph/similarity/ordered-set builds), so the build layer dominates",
}


def family(name):
    """Name prefix without its digits: q1_agg and q15_top_supplier are both q."""
    return re.sub(r"\d+$", "", name.split("_")[0])


def pick(pool, budget):
    """The fastest member of each family, largest families first, while the
    summed warm latency stays within ``budget``."""
    fams = {}
    for q in pool:
        fams.setdefault(family(q["name"]), []).append(q)
    chosen, total = [], 0.0
    for fam in sorted(fams, key=lambda f: (-len(fams[f]), f)):
        q = min(fams[fam], key=lambda q: (q["warm_s"], q["name"]))
        if total + q["warm_s"] <= budget:
            chosen.append(dict(q, family=fam, family_size=len(fams[fam])))
            total += q["warm_s"]
    return sorted(chosen, key=lambda q: q["name"])


def choose(evidence):
    """workloads.json content from the selection run's evidence."""
    warm = {o["name"]: None if o["error"] else o["latency_s"] for o in evidence["ops"]}
    failed = evidence["oracle_failures"]
    cands, excluded = [], {"errors": [], "oracle": [], "tmp_layout_writes": []}
    for q in evidence["queries"]:
        n = q["name"]
        if not q["ok"] or warm.get(n) is None:
            excluded["errors"].append(n)
        elif f"oracle:{n}" in failed:
            excluded["oracle"].append(f"{n}: {failed[f'oracle:{n}']}")
        elif q["tmp_layout_writes"]:
            excluded["tmp_layout_writes"].append(n)
        else:
            cands.append({"name": n, "eager_jobs": q["eager_jobs"], "warm_s": round(warm[n], 3)})
    out = {"generated_by": "python3 perfbench/run.py --select",
           "catalog_queries": len(evidence["queries"]), "candidates": len(cands),
           "excluded": excluded}
    for wl, budget in PASS_BUDGET_S.items():
        pool = [q for q in cands if (q["eager_jobs"] == 0) == (wl == "catalog_scan")]
        out[wl] = {"why": WHY[wl], "pool": len(pool), "pass_budget_s": budget,
                   "queries": pick(pool, budget)}
    return out


def main(spec, data_dir, run_jvm, work):
    run_dir = os.path.join(work, "runs", f"select-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = run_jvm(spec, run_dir, ["catalog", 0, 1, 0, data_dir, run_dir, 1, "*"],
                         time.time() + 3600)
        queries = result["checks"]["queries"]
        failed = dict(oracle.check_catalog(data_dir, result["checks"]["outputs_dir"],
                                           os.path.join(run_dir, "oracle_sql.json"),
                                           [q["name"] for q in queries if q["ok"]]))
        out = choose({"queries": queries, "ops": result["ops"], "oracle_failures": failed})
        for wl in PASS_BUDGET_S:
            print(f"{wl}: {len(out[wl]['queries'])} of {out[wl]['pool']}, "
                  f"{sum(q['warm_s'] for q in out[wl]['queries']):.1f} s")
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
        print(f"wrote {path}; excluded: " +
              ", ".join(f"{k} {len(v)}" for k, v in out["excluded"].items()))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
