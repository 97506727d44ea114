#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Runs DuckDB oracle SQL from <outDir>/oracle_sql.json against the same
parquet tables and compares against the Spark results dumped by
graft.Verify (column-name-sorted, row-sorted, exact value compare with
float tolerance reporting). Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.001 /tmp/verify_out"
    python3 tools/check.py /root/testdata/sf0.001 /tmp/verify_out
"""
import sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    n_pass = n_fail = 0
    spark_dirs = {os.path.basename(p): p for p in glob.glob(f"{out_dir}/*") if os.path.isdir(p)}
    # every oracle key must have a Spark output: a query that failed in
    # Verify leaves no directory, and that is a failure, not a skip
    names = sorted(set(spark_dirs) | set(oracles))
    for name in names:
        path = spark_dirs.get(name)
        if path is None:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            sdf = con.execute(f"SELECT * FROM '{path}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}"); n_fail += 1; continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(sdf)} rows from spark)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {str(e)[:200]}"); n_fail += 1; continue
        ok, msg = compare(sdf, odf)
        if ok:
            print(f"PASS {name} ({len(sdf)} rows)" + (f" [{msg}]" if msg else "")); n_pass += 1
        else:
            print(f"FAIL {name}: {msg}"); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {len(names) - n_pass - n_fail} skipped")
    return 1 if n_fail else 0

def compare(sdf, odf):
    import pandas as pd, numpy as np
    s = sdf.reindex(sorted(sdf.columns), axis=1)
    o = odf.reindex(sorted(odf.columns), axis=1)
    if list(s.columns) != list(o.columns):
        return False, f"columns differ: spark={list(s.columns)} oracle={list(o.columns)}"
    if len(s) != len(o):
        return False, f"row count differs: spark={len(s)} oracle={len(o)}"
    note = ""
    for c in s.columns:
        sv, ov = s[c], o[c]
        if str(sv.dtype) != str(ov.dtype):
            note += f" dtype({c}): {sv.dtype} vs {ov.dtype};"
        try:
            if sv.dtype.kind == 'f' or ov.dtype.kind == 'f':
                # The driver hashes raw float BITS, so compare uint64 bit
                # patterns, not ==. The difference matters exactly twice:
                # NaN (where == is always false; canonicalize both sides to
                # one quiet-NaN payload) and SIGNED ZERO (-0.0 == 0.0 is
                # true but the bits differ — the r5 emb_kmeans_step bug that
                # this gate's former == compare was blind to for 3 rounds).
                sb = sv.astype(np.float64).to_numpy(copy=True)
                ob = ov.astype(np.float64).to_numpy(copy=True)
                sb[np.isnan(sb)] = np.float64('nan')  # canonical quiet NaN
                ob[np.isnan(ob)] = np.float64('nan')
                eq = sb.view(np.uint64) == ob.view(np.uint64)
                if not eq.all():
                    i = int(np.argmax(~eq))
                    sr, orc = sb[i], ob[i]
                    if sr == orc:
                        return False, (f"col {c}: row {i}: SIGNED-ZERO bit mismatch "
                                       f"spark={sr!r} oracle={orc!r} "
                                       f"(bits {sb.view(np.uint64)[i]:#x} vs {ob.view(np.uint64)[i]:#x}) "
                                       f"— canonicalize with qround on both sides")
                    close = np.isclose(sb, ob, rtol=1e-9, atol=1e-9, equal_nan=True)
                    if close.all():
                        return False, f"col {c}: values close but not bit-equal (ulp drift — tighten rounding)"
                    return False, f"col {c}: first mismatch row {i}: spark={sr!r} oracle={orc!r}"
            else:
                sv2 = sv.astype(str); ov2 = ov.astype(str)
                if not (sv2 == ov2).all():
                    i = (sv2 != ov2).idxmax()
                    return False, f"col {c}: first mismatch row {i}: spark={sv[i]!r} oracle={ov[i]!r}"
        except Exception as e:
            return False, f"col {c}: compare error: {e}"
    return True, note.strip()

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
