"""Seeded input generators for the benchmark.

* ``catalog(out_dir, sf)`` writes the ten star-schema tables the query
  catalog reads (region .. embeddings), one parquet file each, with the
  column names, arrow types and value ranges of the engine's test data.
  The catalog data is generated from a fixed seed: the benchmark's
  ``--seed`` only permutes query order on the catalog workloads.
* ``season(out_dir, seed, sessions, samples)`` writes one raw F1 season:
  per session an all-string laps CSV in the F1 duration formats and a
  telemetry sample parquet, plus ``expected.json`` with the row counts and
  canonical re-emit the ingest path must reproduce.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_DATA_SEED = 42
WORDS = ("a the join hash row batch scan column customer filter small slow "
         "merge order vector line table data agg value key stream window "
         "spark part group big sort query fast").split()


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _dates(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def catalog(out_dir, sf):
    """Write the catalog tables at scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(CATALOG_DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), p("region"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), p("nation"))
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}), p("customer"))
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}), p("supplier"))
    adj = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)}), p("part"))
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}), p("orders"))
    flags = np.array([("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")])
    fl = flags[rng.integers(0, 6, n_li)]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(fl[:, 0].astype(object), pa.string()),
        "l_linestatus": pa.array(fl[:, 1].astype(object), pa.string()),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04")}), p("lineitem"))
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array((t0 + np.cumsum(gaps)).astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}), p("events"))
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS),
                                                                  int(rng.integers(10, 100)))]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}), p("documents"))
    centroids = rng.normal(0.0, 1.0, (10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.14 * centroids[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}), p("embeddings"))


# ---------------------------------------------------------------- F1 season

DRIVERS = [f"D{i:02d}" for i in range(1, 21)]
TEAMS = [f"Team{i // 2:02d}" for i in range(20)]
LAPS_COLUMNS = ["Driver", "Team", "Compound", "LapNumber", "Stint", "TyreLife",
                "IsAccurate", "LapTime", "Sector1Time", "Sector2Time", "Sector3Time",
                "Time", "PitInTime", "PitOutTime", "Sector1SessionTime",
                "Sector2SessionTime", "Sector3SessionTime", "LapStartTime"]
MMSS_COLS = ("LapTime", "Sector1Time", "Sector2Time", "Sector3Time")
HHMMSSMS_COLS = ("Time", "PitInTime", "PitOutTime")
HHMMSS_COLS = ("Sector1SessionTime", "Sector2SessionTime", "Sector3SessionTime",
               "LapStartTime")


def _mmssms(ms):
    return f"{ms // 60000:02d}:{ms // 1000 % 60:02d}:{ms % 1000:03d}"


def _hhmmssms(ms):
    return f"{ms // 3600000:02d}:{ms // 60000 % 60:02d}:{ms // 1000 % 60:02d}:{ms % 1000:03d}"


def _hhmmss(ms):
    s = ms // 1000
    return f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"


def _session_laps(rng, n_laps):
    """Raw laps rows and their canonical re-emit (the reference transformer's
    output for the same row), both as lists of string-or-None cells."""
    raw, canon = [], []
    for d, (drv, team) in enumerate(zip(DRIVERS, TEAMS)):
        clock = 3_600_000 + int(rng.integers(0, 5_000))
        pit = int(rng.integers(n_laps // 3, 2 * n_laps // 3))
        for lap in range(1, n_laps + 1):
            stint = 1 if lap <= pit else 2
            s = [int(rng.integers(25_000, 40_000)) for _ in range(3)]
            lap_ms = sum(s)
            start = clock
            clock += lap_ms
            missing = rng.random() < 0.03
            cells = {
                "Driver": drv, "Team": team,
                "Compound": "SOFT" if stint == 1 else "HARD",
                "LapNumber": str(lap), "Stint": str(stint),
                "TyreLife": str(lap if stint == 1 else lap - pit),
                "IsAccurate": "True" if rng.random() > 0.1 else "False",
                "LapTime": None if missing else _mmssms(lap_ms),
                "Sector1Time": _mmssms(s[0]), "Sector2Time": _mmssms(s[1]),
                "Sector3Time": _mmssms(s[2]), "Time": _hhmmssms(clock),
                "PitInTime": _hhmmssms(clock) if lap == pit else None,
                "PitOutTime": _hhmmssms(start) if lap == pit + 1 else None,
                "Sector1SessionTime": _hhmmss(start + s[0]),
                "Sector2SessionTime": _hhmmss(start + s[0] + s[1]),
                "Sector3SessionTime": _hhmmss(clock),
                "LapStartTime": _hhmmss(start)}
            raw.append([cells[c] if cells[c] is not None else "nan" for c in LAPS_COLUMNS])
            out = []
            for c in LAPS_COLUMNS:
                v = cells[c]
                if v is None:
                    out.append(None)
                elif c in HHMMSS_COLS:
                    out.append(v + ":000")
                elif c == "IsAccurate":
                    out.append(v.lower())
                else:
                    out.append(v)
            canon.append(out)
    return raw, canon


def season(out_dir, seed, sessions, n_laps, samples):
    """Write ``sessions`` raw sessions of 20 drivers x ``n_laps`` laps x
    ``samples`` telemetry samples per lap into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    expected = {"sessions": []}
    for k in range(sessions):
        name = f"s{k:02d}"
        raw, canon = _session_laps(rng, n_laps)
        laps_path = os.path.join(out_dir, f"{name}_laps.csv")
        with open(laps_path, "w") as f:
            f.write(",".join(LAPS_COLUMNS) + "\n")
            for row in raw:
                f.write(",".join(row) + "\n")
        n = len(DRIVERS) * n_laps * samples
        drv = np.repeat(np.arange(len(DRIVERS)), n_laps * samples)
        lap = np.tile(np.repeat(np.arange(1, n_laps + 1), samples), len(DRIVERS))
        idx = np.tile(np.arange(samples), len(DRIVERS) * n_laps)
        tel_path = os.path.join(out_dir, f"{name}_telemetry.parquet")
        _write(pa.table({
            "Driver": pa.array(np.asarray(DRIVERS, dtype=object)[drv], pa.string()),
            "LapNumber": pa.array(lap, pa.int32()),
            "Time": lap * 95.0 + idx * (95.0 / samples) + rng.random(n) * 0.5,
            "Speed": np.round(rng.uniform(80.0, 330.0, n), 3),
            "RPM": np.round(rng.uniform(9000.0, 12500.0, n), 3),
            "Throttle": np.round(rng.uniform(0.0, 100.0, n), 3),
            "Brake": np.round(rng.uniform(0.0, 100.0, n), 3),
            "Gear": rng.integers(1, 9, n).astype(np.float64),
            "DRS": pa.array(rng.integers(0, 15, n), pa.int32()),
            "Distance": idx * (5000.0 / samples)}), tel_path)
        stints = {(r[0], r[4]) for r in raw}
        expected["sessions"].append({
            "name": name,
            "laps_csv": laps_path,
            "telemetry": tel_path,
            "laps_rows": len(raw),
            "telemetry_rows": n,
            "telemetry_summary_rows": len(DRIVERS) * n_laps,
            "stint_rows": len(stints),
            "fresh_read_rows": sum(1 for r in raw if r[LAPS_COLUMNS.index("LapTime")] != "nan"),
            "input_bytes": os.path.getsize(laps_path) + os.path.getsize(tel_path),
            "canonical": canon})
    expected["laps_columns"] = LAPS_COLUMNS
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected
