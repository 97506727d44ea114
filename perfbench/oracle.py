"""Output checks, run in DuckDB outside every timed window.

* ``check_catalog``: each query's Spark output against its
  ``SparkEntry.oracleSql`` text run by DuckDB over the same parquet tables,
  compared by ``compare`` of the repository's ``tools/check.py`` (columns
  by sorted name, rows in order, floats by their uint64 bit patterns with
  NaN canonicalized, everything else as text). Unlike that script's
  ``main``, a listed query without output or without an oracle is a
  failure here.
* ``check_canonical``: the ingest path's ``Canonicalize.canonical`` re-emit
  of the committed laps against the canonical strings the season generator
  derived from the raw cells.
"""
import glob
import json
import os
import sys

import duckdb

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def check_catalog(data_dir, outputs_dir, oracle_json, names):
    """Failures as (query, reason) for every listed query."""
    sys.path.insert(0, TOOLS)
    from check import compare  # noqa: E402 - the repository's oracle comparison
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(oracle_json) as f:
        oracles = json.load(f)
    failures = []
    for name in names:
        out = os.path.join(outputs_dir, name)
        if name not in oracles:
            failures.append((f"oracle:{name}", "no oracle SQL in SparkEntry.oracleSql"))
            continue
        if not glob.glob(os.path.join(out, "*.parquet")):
            failures.append((f"oracle:{name}", "no output written"))
            continue
        try:
            sdf = con.execute(f"SELECT * FROM '{out}/*.parquet'").df()
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((f"oracle:{name}", f"cannot evaluate: {str(e)[:200]}"))
            continue
        ok, why = compare(sdf, odf)
        if not ok:
            failures.append((f"oracle:{name}", why))
    con.close()
    return failures


def check_canonical(canonical_dir, expected):
    """Failures as (session, reason): canonical re-emit vs generator strings."""
    cols = expected["laps_columns"]
    con = duckdb.connect()
    try:
        got = con.execute(
            f"SELECT session, {', '.join(cols)} FROM '{canonical_dir}/*.parquet' "
            "ORDER BY session, Driver, CAST(LapNumber AS INTEGER)").fetchall()
    except Exception as e:  # noqa: BLE001
        return [("canonical", f"cannot read canonical output: {str(e)[:200]}")]
    finally:
        con.close()
    by_session = {}
    for row in got:
        by_session.setdefault(row[0], []).append(list(row[1:]))
    failures = []
    for s in expected["sessions"]:
        want = sorted(s["canonical"], key=lambda r: (r[0], int(r[3])))
        have = by_session.get(s["name"], [])
        if len(have) != len(want):
            failures.append((f"canonical:{s['name']}", f"{len(have)} rows, expected {len(want)}"))
            continue
        for i, (h, w) in enumerate(zip(have, want)):
            if h != w:
                j = next(k for k in range(len(cols)) if h[k] != w[k])
                failures.append((f"canonical:{s['name']}",
                                 f"row {i} {cols[j]}: got {h[j]!r}, expected {w[j]!r}"))
                break
    return failures
