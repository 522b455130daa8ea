"""Correctness gate, run after the timed window.

Taxi workloads: the wide table and the report's counters are recomputed
in DuckDB from the generator's manifest alone (the manifest says how to
read each file; nothing is taken from graft's detection) and compared
with what graft wrote on its first operation. Every timed operation's
report must equal the checked one.

query_mix: each query's result from the check pass is compared with its
declared DuckDB oracle and its minDistinct floor; every timed operation
must return the checked row count.

Each function returns a list of problems; an empty list means correct.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

HOURS = [f"hour_{h}" for h in range(24)]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _q(name):
    return '"' + name.replace('"', '""') + '"'


def _ts_expr(f):
    c = _q(f["ts_col"])
    return {
        "ts": f"CAST({c} AS TIMESTAMP)",
        "ts_ns": f"CAST({c} AS TIMESTAMP)",
        "str": f"TRY_CAST({c} AS TIMESTAMP)",
        "date": f"CAST({c} AS TIMESTAMP)",
        # graft's rule: |v| < 1e11 is epoch seconds, else epoch millis
        "epoch": f"CASE WHEN abs({c}) < 100000000000 THEN epoch_ms({c} * 1000) "
                 f"ELSE epoch_ms({c}) END",
    }[f["ts_kind"]]


def _loc_expr(f):
    cols = [_q(c) for c in f["loc_cols"]]
    if f["loc_kind"] == "id":
        return f"CAST(CAST({cols[0]} AS BIGINT) AS VARCHAR)"
    if f["loc_kind"] == "latlon":
        return (f"CAST(round({cols[0]}, 3) AS VARCHAR) || '_' || "
                f"CAST(round({cols[1]}, 3) AS VARCHAR)")
    return f"CAST({cols[0]} AS VARCHAR)"


def _month_bounds_us(y, m):
    start = np.datetime64(f"{y:04d}-{m:02d}-01", "us").astype(np.int64)
    ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
    end = np.datetime64(f"{ny:04d}-{nm:02d}-01", "us").astype(np.int64)
    return int(start), int(end)


def skipped_paths(root, report):
    """The report's skipped files, by manifest path, with their reasons."""
    out = {}
    for path, why in report["skipped"]:
        p = "/" + (path.split(":", 1)[1] if path.startswith("file:") else path).lstrip("/")
        out[os.path.relpath(p, os.path.abspath(root))] = why
    return out


def read_files(manifest, skipped):
    """Files graft is expected to read. A nanosecond-timestamp file counts
    as read unless graft skipped it (the one tolerated divergence)."""
    return [f for f in manifest["files"] if "expect_skip" not in f
            and not (f["ts_kind"] == "ts_ns" and f["path"] in skipped)]


def expected_taxi(root, manifest, files):
    con = duckdb.connect()
    parts = []
    for f in files:
        lo, hi = _month_bounds_us(f["year"], f["month"])
        path = os.path.join(root, f["path"]).replace("'", "''")
        parts.append(f"SELECT '{f['taxi_type']}' AS taxi_type, {_ts_expr(f)} AS ts, "
                     f"{_loc_expr(f)} AS place, {lo} AS lo, {hi} AS hi "
                     f"FROM read_parquet('{path}')")
    con.execute("CREATE TABLE trips AS SELECT * FROM (" + " UNION ALL ".join(parts) +
                ") WHERE ts IS NOT NULL")
    input_rows, mismatch = con.execute(
        "SELECT COUNT(*), COALESCE(SUM(CASE WHEN epoch_us(ts) < lo OR epoch_us(ts) >= hi "
        "THEN 1 ELSE 0 END), 0) FROM trips").fetchone()
    hours = ", ".join(f"CAST(SUM(CASE WHEN hour(ts) = {h} THEN 1 ELSE 0 END) AS BIGINT) "
                      f"AS hour_{h}" for h in range(24))
    con.execute(f"CREATE TABLE grouped AS SELECT taxi_type, CAST(ts AS DATE) AS date, "
                f"place AS pickup_place, {hours} FROM trips GROUP BY 1, 2, 3")
    n_groups = con.execute("SELECT COUNT(*) FROM grouped").fetchone()[0]
    wide = con.execute(
        f"SELECT * FROM grouped WHERE {' + '.join(HOURS)} >= {manifest['min_rides']}").df()
    counters = {"input_rows": int(input_rows), "output_rows": len(wide),
                "month_mismatch": int(mismatch),
                "low_count_dropped": int(n_groups - len(wide))}
    return wide, counters


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object or "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got, want):
    """None when equal (floats to 1e-9 relative), else what differs."""
    a, b = _canon(got), _canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    for c in a.columns:
        if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(b[c].dtype, np.floating):
            x, y = a[c].astype(float).values, b[c].astype(float).values
            bad = ~np.isclose(x, y, rtol=1e-9, atol=1e-12, equal_nan=True)
        else:
            x, y = a[c].values, b[c].values
            bad = x != y
        if bad.any():
            i = int(np.argmax(bad))
            return f"column {c} row {i}: {x[i]!r} != {y[i]!r}"
    return None


def check_taxi(root, manifest, first, timed):
    """`first` and `timed` are the harness's op records (dicts)."""
    problems = []
    if not first["ok"]:
        return [f"first op failed: {first['error']}"]
    rep = first["report"]
    skipped = skipped_paths(root, rep)
    for f in manifest["files"]:
        why = skipped.get(f["path"])
        if "expect_skip" in f:
            if why is None or not why.lower().startswith(f["expect_skip"]):
                problems.append(f"{f['path']}: expected skip '{f['expect_skip']}', got {why!r}")
        elif why is not None and not (f["ts_kind"] == "ts_ns" and "NANOS" in why):
            problems.append(f"{f['path']}: readable file skipped: {why}")
    for p in skipped:
        if p not in {f["path"] for f in manifest["files"]}:
            problems.append(f"{p}: skipped but not a trip file of the manifest")
    want, counters = expected_taxi(root, manifest, read_files(manifest, skipped))
    for k, v in counters.items():
        if rep[k] != v:
            problems.append(f"report {k} = {rep[k]}, expected {v}")
    out = first["out_dir"]
    got = duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{out}/wide_table.parquet/*.parquet')").df()
    diff = compare_frames(got, want)
    if diff:
        problems.append(f"wide table differs: {diff}")
    for op in timed:
        if op["ok"] and op["report"] != rep:
            op["ok"] = False
            op["error"] = "report differs from the checked report"
    return problems


def check_queries(root, check_dir, queries, timed):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root}/{t}.parquet')")
    problems, rows = [], {}
    for name, q in queries.items():
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no result")
            continue
        got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
        rows[name] = len(got)
        if q["oracle"] is None:
            problems.append(f"{name}: no oracle declared")
            continue
        diff = compare_frames(got, con.execute(q["oracle"]).df())
        if diff:
            problems.append(f"{name}: differs from oracle: {diff}")
        if q["floor"] is not None:
            c, floor = q["floor"]
            n = got[c].nunique(dropna=False) if c in got.columns else 0
            if n < floor:
                problems.append(f"{name}: {n} distinct {c}, floor {floor}")
    for op in timed:
        if op["ok"] and op["rows"] != rows.get(op["name"]):
            op["ok"] = False
            op["error"] = f"{op['rows']} rows, checked result has {rows.get(op['name'])}"
    return problems
