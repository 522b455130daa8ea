"""Seeded TLC-style trip files and the manifest the correctness gate reads.

Each file entry of the manifest says how an independent reader gets the
pickup time and place out of it (`ts_kind`, `ts_col`, `loc_kind`,
`loc_cols`), which month its path promises, and whether graft must skip
it (`expect_skip`: "unreadable" or "missing pickup"), read it, or may do
either (`ts_kind` "ts_ns": graft's footer reader rejects
TIMESTAMP(NANOS) columns, see README.md).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_ZONES = [f"Z{z:03d}" for z in range(1, 41)]
# lat/lon centres on a 0.001-degree grid; jitter stays within 0.0004 so
# rounding to three decimals never meets a tie
CENTRES = [(40.7 + 0.013 * i, -74.0 + 0.011 * i) for i in range(16)]

def _month_start(y, m):
    return np.datetime64(f"{y:04d}-{m:02d}-01T00:00:00", "us")


def _times(rng, n, y, m, mismatch_share):
    start = _month_start(y, m)
    nxt = _month_start(y + (m == 12), m % 12 + 1)
    span = int((nxt - start) / np.timedelta64(1, "us"))
    # busy evening hours, quiet nights: a shaped hour-of-day profile
    day = rng.integers(0, span // 86_400_000_000, n)
    hour = rng.choice(24, n, p=_HOUR_P)
    us = day * 86_400_000_000 + hour * 3_600_000_000 + rng.integers(0, 3_600_000_000, n)
    ts = start + us.astype("timedelta64[us]")
    off = rng.random(n) < mismatch_share
    ts[off] = ts[off] - np.timedelta64(40, "D")
    return ts


_HOUR_P = np.array([1, 1, 1, 1, 1, 2, 3, 5, 6, 5, 4, 4, 4, 4, 4, 5, 6, 7, 8, 7,
                    6, 4, 3, 2], dtype=float)
_HOUR_P /= _HOUR_P.sum()


def _zones(rng, n):
    # Zipf-like: a few busy zones carry most trips
    w = 1.0 / np.arange(1, len(VOCAB_ZONES) + 1)
    return rng.choice(len(VOCAB_ZONES), n, p=w / w.sum()) + 1


def _latlon(rng, n):
    z = rng.choice(len(CENTRES), n)
    lat = np.array([CENTRES[i][0] for i in z]) + rng.integers(-400, 401, n) * 1e-6
    lon = np.array([CENTRES[i][1] for i in z]) + rng.integers(-400, 401, n) * 1e-6
    return np.round(lat, 6), np.round(lon, 6)


def _strings(rng, ts, bad_share):
    s = np.datetime_as_string(ts, unit="s").astype(object)
    s = np.array([v.replace("T", " ") for v in s], dtype=object)
    bad = rng.random(len(s)) < bad_share
    junk = np.array(["", "N/A", "2021-13-45 99:99:99", "unknown"], dtype=object)
    s[bad] = junk[rng.integers(0, len(junk), bad.sum())]
    return s


def _table(rng, dialect, n, y, m, mismatch_share):
    """Returns (arrow table, manifest fields)."""
    ts = _times(rng, n, y, m, mismatch_share)
    extra = {"fare_amount": pa.array(np.round(rng.random(n) * 60, 2))}
    if dialect in ("tpep_us", "tpep_us_i32", "tpep_ns", "lpep_us", "lpep_dbl", "hv_us"):
        col = {"tpep": "tpep_pickup_datetime", "lpep": "lpep_pickup_datetime",
               "hv": "request_datetime"}[dialect.split("_")[0]]
        unit = "ns" if dialect == "tpep_ns" else "us"
        zones = _zones(rng, n)
        loc_type = {"tpep_us_i32": pa.int32(), "lpep_us": pa.int32(),
                    "lpep_dbl": pa.float64()}.get(dialect, pa.int64())
        loc = pa.array(zones.astype(float) if loc_type == pa.float64() else zones, loc_type)
        t = pa.table({col: pa.array(ts.astype(f"datetime64[{unit}]"), pa.timestamp(unit)),
                      "PULocationID": loc, **extra})
        return t, {"ts_kind": "ts_ns" if unit == "ns" else "ts", "ts_col": col,
                   "loc_kind": "id", "loc_cols": ["PULocationID"]}
    if dialect in ("legacy_str_latlon", "lpep_latlon"):
        lat, lon = _latlon(rng, n)
        if dialect == "legacy_str_latlon":
            cols = ("Trip_Pickup_DateTime", "Start_Lat", "Start_Lon")
            tsv = pa.array(_strings(rng, ts, 0.02), pa.string())
            kind = "str"
        else:
            cols = ("lpep_pickup_datetime", "Pickup_latitude", "Pickup_longitude")
            tsv = pa.array(ts, pa.timestamp("us"))
            kind = "ts"
        t = pa.table({cols[0]: tsv, cols[1]: pa.array(lat), cols[2]: pa.array(lon), **extra})
        return t, {"ts_kind": kind, "ts_col": cols[0], "loc_kind": "latlon",
                   "loc_cols": [cols[1], cols[2]]}
    if dialect == "fhv_us":
        zones = _zones(rng, n).astype(float)
        zones[rng.random(n) < 0.05] = np.nan
        t = pa.table({"dispatching_base_num": pa.array(["B00001"] * n),
                      "pickup_datetime": pa.array(ts, pa.timestamp("us")),
                      "PUlocationID": pa.array(zones, pa.float64(), from_pandas=True)})
        return t, {"ts_kind": "ts", "ts_col": "pickup_datetime", "loc_kind": "id",
                   "loc_cols": ["PUlocationID"]}
    if dialect in ("fhv_epoch_s", "fhv_epoch_ms"):
        div = 1_000_000 if dialect == "fhv_epoch_s" else 1_000
        v = ts.astype("datetime64[us]").astype(np.int64) // div
        t = pa.table({"pickup_datetime": pa.array(v, pa.int64()),
                      "PULocationID": pa.array(_zones(rng, n), pa.int64())})
        return t, {"ts_kind": "epoch", "ts_col": "pickup_datetime", "loc_kind": "id",
                   "loc_cols": ["PULocationID"]}
    if dialect == "fhv_zone_str":
        t = pa.table({"Pickup_DateTime": pa.array(_strings(rng, ts, 0.03), pa.string()),
                      "PU_Zone": pa.array(np.array(VOCAB_ZONES)[_zones(rng, n) - 1])})
        return t, {"ts_kind": "str", "ts_col": "Pickup_DateTime", "loc_kind": "str",
                   "loc_cols": ["PU_Zone"]}
    if dialect == "fhv_date":
        t = pa.table({"pickup_date": pa.array(ts.astype("datetime64[D]"), pa.date32()),
                      "PULocationID": pa.array(_zones(rng, n), pa.int64())})
        return t, {"ts_kind": "date", "ts_col": "pickup_date", "loc_kind": "id",
                   "loc_cols": ["PULocationID"]}
    raise ValueError(dialect)


def _write(root, rel, table, entry, files):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    entry.update(path=rel, rows=table.num_rows, bytes=os.path.getsize(path))
    files.append(entry)


def many_files(root, seed):
    """About 200 small files over 2019-2023, every dialect, plus one
    corrupt file, one file with no pickup column and one non-trip file."""
    rng = np.random.default_rng(seed)
    files = []
    plan = []
    # dialects cycle through each type's months from a seeded offset, so
    # every seed has the same dialect counts and the same amount of work
    for t, dias in (("yellow", ["tpep_us", "tpep_us_i32", "tpep_ns", "legacy_str_latlon"]),
                    ("green", ["lpep_us", "lpep_dbl", "lpep_latlon"]),
                    ("fhv", ["fhv_us", "fhv_epoch_s", "fhv_epoch_ms", "fhv_zone_str", "fhv_date"])):
        offset = int(rng.integers(0, len(dias)))
        for i, (y, m) in enumerate((y, m) for y in range(2019, 2024) for m in range(1, 13)):
            plan.append((t, y, m, dias[(i + offset) % len(dias)]))
    for y, m in [(2022, mm) for mm in range(1, 13)] + [(2023, mm) for mm in range(1, 9)]:
        plan.append(("fhvhv", y, m, "hv_us"))
    # the two undetectable files take the place of two planned ones
    bad = set(rng.choice(len(plan), 2, replace=False).tolist())
    for i, (t, y, m, dia) in enumerate(plan):
        rel = f"{t}/{y}/{t}_tripdata_{y:04d}-{m:02d}.parquet"
        base = {"taxi_type": "fhv" if t == "fhvhv" else t, "year": y, "month": m,
                "dialect": dia}
        if i in bad and not any(f.get("expect_skip") == "unreadable" for f in files):
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as fh:
                fh.write(b"PAR1" + rng.bytes(512))
            files.append({**base, "dialect": "corrupt", "path": rel, "rows": 0,
                          "bytes": 516, "expect_skip": "unreadable"})
            continue
        n = 300 + (i * 389) % 1200
        if i in bad:
            table = pa.table({"dropoff_datetime": pa.array(_times(rng, n, y, m, 0.0),
                                                           pa.timestamp("us")),
                              "DOLocationID": pa.array(_zones(rng, n), pa.int64())})
            _write(root, rel, table, {**base, "dialect": "no_pickup",
                                      "expect_skip": "missing pickup"}, files)
            continue
        table, fields = _table(rng, dia, n, y, m, mismatch_share=0.03)
        _write(root, rel, table, {**base, **fields}, files)
    # not a trip file: discovery must list it and selection must drop it
    lookup = pa.table({"LocationID": pa.array(np.arange(1, 41)), "Zone": VOCAB_ZONES})
    pq.write_table(lookup, os.path.join(root, "taxi_zone_lookup.parquet"))
    return {"workload": "taxi_many_files", "seed": seed, "min_rides": 3,
            "files": files, "ignored": ["taxi_zone_lookup.parquet"]}


def bulk(root, seed):
    """Four files of a million trips: yellow and green for two months, two
    dialects."""
    rng = np.random.default_rng(seed)
    files = []
    for t, dia in (("yellow", "tpep_us"), ("green", "lpep_us")):
        for m in (1, 2):
            table, fields = _table(rng, dia, 1_000_000, 2023, m, mismatch_share=0.01)
            rel = f"{t}/2023/{t}_tripdata_2023-{m:02d}.parquet"
            _write(root, rel, table, {"taxi_type": t, "year": 2023, "month": m,
                                      "dialect": dia, **fields}, files)
    return {"workload": "taxi_bulk", "seed": seed, "min_rides": 50,
            "files": files, "ignored": []}


def generate(workload, root, seed):
    os.makedirs(root, exist_ok=True)
    manifest = (many_files if workload == "taxi_many_files" else bulk)(root, seed)
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest
