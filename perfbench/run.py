#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft engine, measured from outside it.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0

It builds the engine and the harness from source (cached by a content hash
of their sources), generates the workload's inputs from the seed, runs the
workload in a fresh JVM as one closed-loop client, checks every output
outside the timed windows, and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).

``--select`` re-derives ``workloads.json`` from a traced pass over the
whole catalog (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import datagen
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("catalog", "f1_ingest")
QUERY_CLASSES = ("catalog_scan", "catalog_iterative")
CATALOG_SF = 0.01
SETUP_REPS = 3
# A run measures a fixed number of passes: --seconds divided by the
# workload's nominal pass time (its pass time on a 4-core VM), at least 3
# so that the median over passes is not moved by one slow pass. The count
# never depends on how fast the passes actually run, so every figure is
# computed from the same passes whatever the engine's speed.
NOMINAL_PASS_S = {"catalog": 5.0, "f1_ingest": 5.0}
F1_SESSIONS, F1_LAPS, F1_SAMPLES = 3, 60, 40
RUN_DEADLINE_S = 170.0
HEAP = "3g"  # SPARK_DRIVER_MEM for the engine build's javaOptions (-Xms/-Xmx)
MAIN_CLASS = "graftbench.Main"

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"), ("query_p90_s", "s")]
LAYER_SUMS = [  # summed over a traced pass's records, median over traced passes
    ("tables.load_jobs", "count"), ("tables.load_s", "s"),
    ("build.s", "s"), ("build.jobs", "count"), ("build.stages", "count"),
    ("build.tasks", "count"), ("build.persisted_rdds", "count"), ("build.persisted_mb", "MB"),
    ("plan.s", "s"), ("codegen.compiles", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.input_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.fetch_wait_s", "s"), ("exec.spill_mb", "MB"),
    ("f1.extract_s", "s"), ("f1.transform_s", "s"), ("commits.commit_s", "s"),
    ("commits.conflicts", "count"), ("commits.manifest_bytes", "bytes"),
    ("write.output_mb", "MB"), ("write.files", "count"), ("f1.read_s", "s"),
]
PER_LAYER = LAYER_SUMS + [
    ("tables.load_call_s", "s"), ("exec.core_util", "ratio"), ("jvm.gc_s", "s"),
    ("trace.overhead_s", "s"), ("scan.build.jobs", "count"), ("iterative.build.share", "ratio"),
    ("f1.ingest_rows_per_s", "1/s"), ("f1.append_p50_s", "s"), ("f1.fresh_read_p50_s", "s"),
    ("f1.stored_bytes_per_input_byte", "ratio"),
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_hash(root):
    """Content hash of everything the harness build compiles or reads."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(BENCH, "harness")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep)
            and f.endswith((".scala", ".sbt", ".properties", ".java")))
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(root):
    key = source_hash(root)
    spec_path = os.path.join(WORK, "build", f"launch-{key}.json")
    if os.path.exists(spec_path):
        return spec_path
    os.makedirs(os.path.dirname(spec_path), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    harness = os.path.join(BENCH, "harness")
    build_log = os.path.join(WORK, "build", "sbt.log")
    log(f"perfbench: building engine + harness (log: {build_log})")
    t0 = time.time()
    with open(build_log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                             cwd=harness, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        with open(build_log) as f:
            log("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc})")
    shutil.copy(os.path.join(harness, "target", "launch.json"), spec_path)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return spec_path


# ------------------------------------------------------------------ run

def catalog_data():
    d = os.path.join(WORK, "data", f"catalog-sf{CATALOG_SF}-seed{datagen.CATALOG_DATA_SEED}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        datagen.catalog(tmp, CATALOG_SF)
        os.rename(tmp, d)
    return d


def run_jvm(spec_path, run_dir, jvm_args, deadline):
    with open(spec_path) as f:
        spec = json.load(f)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ([java] + spec["java_options"] + [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(spec["classpath"]), MAIN_CLASS] + [str(a) for a in jvm_args])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    jvm_log = os.path.join(run_dir, "jvm.log")
    spawn = time.time()
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if rc != 0:
        with open(jvm_log, errors="replace") as f:
            tail = [l for l in f.readlines() if "WARN" not in l][-25:]
        log("".join(tail))
        fail(f"harness JVM exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    result["jvm_start_s"] = result["main_epoch_ms"] / 1000.0 - spawn
    return result


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Linear-interpolated quantile (the ``inclusive`` method)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def summary(xs):
    return {"median": median(xs), "q1": quantile(xs, 0.25), "q3": quantile(xs, 0.75), "n": len(xs),
            "values": list(xs)}


def timed_passes(workload, seconds):
    return max(3, round(seconds / NOMINAL_PASS_S[workload]))


def compute(workload, result, expected, classes, n_passes):
    """End-to-end and per-layer figures from the harness result. Latency
    percentiles are taken within each pass; every figure is the median over
    the ``n_passes`` untraced passes with the least host CPU steal (the
    harness runs extra passes when the host steals CPU) and over all traced
    passes."""
    passes = result["passes"]
    ops = result["ops"]
    plain = [o for o in ops if not o["traced"] and not o["error"]]
    calm = sorted((p for p in passes if not p["traced"]), key=lambda p: p["host_steal_frac"])
    plain_passes = sorted(p["pass"] for p in calm[:n_passes])
    traced_passes = [p["pass"] for p in passes if p["traced"]]
    in_pass = lambda pid, rows, key="latency_s": [o[key] for o in rows if o["pass"] == pid]
    untraced_pass_s = [sum(in_pass(p, plain)) for p in plain_passes]
    traced_ok = [o for o in ops if o["traced"] and not o["error"]]
    traced_pass_s = [sum(in_pass(p, traced_ok)) for p in traced_passes]
    e2e = {
        "setup_s": summary([result["jvm_start_s"] + s for s in result["setup_s"]]),
        "pass_s": summary(untraced_pass_s),
        "query_p50_s": summary([quantile(in_pass(p, plain), 0.5) for p in plain_passes]),
        "query_p90_s": summary([quantile(in_pass(p, plain), 0.9) for p in plain_passes]),
    }

    layers = {}
    recs = result["records"]
    for name, _ in LAYER_SUMS:
        per_pass = [sum(r.get(name, 0) for r in recs if r["pass"] == p) for p in traced_passes]
        layers[name] = summary(per_pass)
    cores = int(result["env"]["spark_graft_cpus"]) if result["env"]["spark_graft_cpus"].isdigit() else 1
    layers["exec.core_util"] = summary(
        [task / (ex * cores) if ex > 0 else 0.0
         for task, ex in zip(layers["exec.task_s"]["values"], layers["exec.s"]["values"])])
    layers["tables.load_call_s"] = summary(
        [p.get("load_call_s", 0.0) for p in passes if p["traced"]])
    layers["jvm.gc_s"] = summary([p["gc_s"] for p in passes if p["traced"]])
    layers["trace.overhead_s"] = summary(
        [median(traced_pass_s) - median(untraced_pass_s)] if traced_pass_s else [])
    parts = (("f1.extract_s", "f1.transform_s", "commits.commit_s", "f1.read_s")
             if workload == "f1_ingest" else ("tables.load_s", "build.s", "plan.s", "exec.s"))
    unattributed = sum(abs(r["e2e_s"] - sum(r[k] for k in parts)) for r in recs)
    shares = {}
    scan_jobs, iter_share = [], []
    if workload == "catalog" and recs:
        for cls in QUERY_CLASSES:
            rc = [r for r in recs if classes[r["name"]] == cls]
            total = sum(r["e2e_s"] for r in rc)
            shares[cls] = {k: sum(r[k] for r in rc) / total if total else 0.0
                           for k in ("tables.load_s", "build.s", "plan.s", "exec.s")}
        for p in traced_passes:
            rp = [r for r in recs if r["pass"] == p]
            scan_jobs.append(sum(r["build.jobs"] for r in rp if classes[r["name"]] == "catalog_scan"))
            it = [r for r in rp if classes[r["name"]] == "catalog_iterative"]
            iter_share.append(sum(r["build.s"] for r in it) / max(1e-9, sum(r["e2e_s"] for r in it)))
    layers["scan.build.jobs"] = summary(scan_jobs)
    layers["iterative.build.share"] = summary(iter_share)

    f1 = {k: summary([]) for k in ("f1.ingest_rows_per_s", "f1.append_p50_s",
                                   "f1.fresh_read_p50_s", "f1.stored_bytes_per_input_byte")}
    if workload == "f1_ingest":
        sess = {s["name"]: s for s in expected["sessions"]}
        rows = lambda o: sess[o["name"]]["laps_rows"] + sess[o["name"]]["telemetry_rows"]
        rate, stored = [], []
        for p in plain_passes:
            po = [o for o in plain if o["pass"] == p]
            t = sum(o["append_s"] for o in po)
            if t > 0:
                rate.append(sum(rows(o) for o in po) / t)
            inp = sum(sess[o["name"]]["input_bytes"] for o in po)
            if inp:
                stored.append(sum(o["stored_bytes"] for o in po) / inp)
        f1 = {"f1.ingest_rows_per_s": summary(rate),
              "f1.append_p50_s": summary(
                  [quantile(in_pass(p, plain, "append_s"), 0.5) for p in plain_passes]),
              "f1.fresh_read_p50_s": summary(
                  [quantile(in_pass(p, plain, "fresh_read_s"), 0.5) for p in plain_passes]),
              "f1.stored_bytes_per_input_byte": summary(stored)}
    layers.update(f1)
    return e2e, layers, {"unattributed_s": unattributed, "layer_shares": shares,
                         "untraced_pass_s": untraced_pass_s, "traced_pass_s": traced_pass_s,
                         "passes_used": plain_passes + traced_passes}


def check_f1(result, expected, failures):
    sess = {s["name"]: s for s in expected["sessions"]}
    checks = result["checks"]
    committed_sets = [(f"pass{p['pass']}", p["committed_rows"]) for p in result["passes"]]
    want = {"laps": "laps_rows", "telemetry": "telemetry_summary_rows", "stints": "stint_rows"}
    for label, committed in committed_sets:
        for table, key in want.items():
            for name, s in sess.items():
                got = committed.get(table, {}).get(name)
                if got != s[key]:
                    failures.append((f"{label}:{table}:{name}",
                                     f"committed rows {got}, expected {s[key]}"))
    ops = [(f"pass{o['pass']}", o["name"], o.get("fresh_read_rows")) for o in result["ops"]]
    for label, name, rows in ops:
        if rows != sess[name]["fresh_read_rows"]:
            failures.append((f"{label}:read:{name}",
                             f"read-after-write rows {rows}, expected {sess[name]['fresh_read_rows']}"))
    failures.extend(oracle.check_canonical(checks["canonical_dir"], expected))
    # one check per committed table+session per pass, per read, and per canonical session
    return len(committed_sets) * len(want) * len(sess) + len(ops) + len(sess)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--select", action="store_true",
                    help="re-derive workloads.json from a traced pass over the whole catalog")
    a = ap.parse_args()
    if not a.select and not a.workload:
        ap.error("--workload is required")
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft source checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    t_start = time.time()
    deadline = t_start + RUN_DEADLINE_S
    spec = build(root)
    if a.select:
        import select_workloads
        return select_workloads.main(spec, catalog_data(), run_jvm, WORK)
    deadline = max(deadline, time.time() + RUN_DEADLINE_S)  # a first run's build has its own budget

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        expected, classes = None, {}
        if a.workload == "f1_ingest":
            season_dir = os.path.join(run_dir, "season")
            expected = datagen.season(season_dir, a.seed, F1_SESSIONS, F1_LAPS, F1_SAMPLES)
            data, extra = season_dir, []
        else:
            data = catalog_data()
            with open(os.path.join(BENCH, "workloads.json")) as f:
                lists = json.load(f)
            classes = {q["name"]: cls for cls in QUERY_CLASSES for q in lists[cls]["queries"]}
            extra = sorted(classes)
        passes = timed_passes(a.workload, a.seconds)
        log(f"perfbench: inputs ready at {time.time() - t_start:.1f} s")
        result = run_jvm(spec, run_dir, [a.workload, a.seed, passes, a.trace, data, run_dir,
                                         SETUP_REPS] + extra, deadline)

        log(f"perfbench: harness exited at {time.time() - t_start:.1f} s")
        failures = [(f"pass{o['pass']}:{o['name']}", o["error"])
                    for o in result["ops"] if o["error"]]
        attempted = len(result["ops"])
        flags = []
        if a.workload == "f1_ingest":
            attempted += check_f1(result, expected, failures)
        else:
            queries = result["checks"]["queries"]
            attempted += len(queries)
            failures += [(f"check:{q['name']}", q["error"]) for q in queries if not q["ok"]]
            failures += oracle.check_catalog(data, result["checks"]["outputs_dir"],
                                             os.path.join(run_dir, "oracle_sql.json"),
                                             [q["name"] for q in queries if q["ok"]])
            flags = [f"catalog_scan query {q['name']} ran {q['eager_jobs']} eager job(s) "
                     "in its query function" for q in queries
                     if classes[q["name"]] == "catalog_scan" and q.get("eager_jobs", 0) > 0]
        log(f"perfbench: output checks done at {time.time() - t_start:.1f} s")
        e2e, layers, trace_info = compute(a.workload, result, expected, classes, passes)

        env = dict(result["env"], git_commit=git_commit(root), catalog_sf=CATALOG_SF,
                   heap=HEAP, setup_reps=SETUP_REPS, timed_passes=passes,
                   jvm_start_s=result["jvm_start_s"],
                   host_steal_frac=[p["host_steal_frac"] for p in result["passes"]],
                   warmup_s=result["warmup_s"])
        report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                  "env": env, "end_to_end": e2e, "per_layer": layers, "trace_info": trace_info,
                  "failures": [{"op": n, "reason": r} for n, r in failures], "flags": flags,
                  "passes": result["passes"], "ops": result["ops"], "records": result["records"]}
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        out = os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(out, "w") as f:
            json.dump(report, f, indent=1)

        print(f"# {a.workload} seed={a.seed} nproc={env['nproc']} heap={env['heap_max_mb']}MB "
              f"jdk={env['jdk']} scala={env['scala']} spark={env['spark']} "
              f"commit={env['git_commit']} scratch={env['scratch_local_dir']} ({env['scratch_fs']}) "
              f"tmp_layouts_built={env['tmp_layouts_built_in_setup']} "
              f"host_steal={'/'.join(f'{x:.0%}' for x in env['host_steal_frac'])} "
              f"passes_used={','.join(map(str, trace_info['passes_used']))}")
        for name, unit in END_TO_END:
            s = e2e[name]
            print(f"{name:>32} {s['median']:.4f} {unit}  [q1 {s['q1']:.4f}, q3 {s['q3']:.4f}, n={s['n']}]")
        print(f"{'failed_frac':>32} {len(failures) / max(1, attempted):.4f}  "
              f"[{len(failures)} of {attempted} operations and checks]")
        if a.workload == "f1_ingest" and not a.trace:
            for name in ("f1.ingest_rows_per_s", "f1.append_p50_s", "f1.fresh_read_p50_s",
                         "f1.stored_bytes_per_input_byte"):
                s = layers[name]
                print(f"{name:>32} {s['median']:.4f}  [q1 {s['q1']:.4f}, q3 {s['q3']:.4f}, n={s['n']}]")
        if a.trace:
            for name, unit in PER_LAYER:
                s = layers[name]
                print(f"{name:>32} {s['median']:.4f} {unit}  [n={s['n']}]")
            for cls, sh in trace_info["layer_shares"].items():
                print(f"# {cls} traced time: " + ", ".join(f"{k} {v:.0%}" for k, v in sh.items()))
            print(f"# unattributed {trace_info['unattributed_s']:.6f} s; tracing overhead "
                  f"{layers['trace.overhead_s']['median']:.4f} s per pass")
        for fl in flags:
            print(f"FLAG {fl}")
        for n, r in failures:
            print(f"FAIL {n}: {r}")
        print(f"# detail: {os.path.relpath(out, root)}")

        if a.trace:
            metrics = {n: {"value": layers[n]["median"], "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n]["median"], "unit": u} for n, u in END_TO_END}
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
        return 1 if failures else 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def git_commit(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    sys.exit(main())
