"""Output checks. Nothing here is timed.

* Query workloads: each query's result (written by the harness after the
  timed calls) must equal its `SparkEntry.oracleSql` run by DuckDB
  over the same input files — columns by name, rows as a sorted multiset,
  floats to 1e-9 relative.
* Medallion: every read, scan and published gold table must equal the
  closed form computed from the generator's ground truth.
"""
import glob
import json
import os
import urllib.parse
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# ------------------------------------------------------------ query oracle

def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(got, exp):
    """None when equal, else a one-line reason."""
    got, exp = _norm(got), _norm(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns differ: engine={list(got.columns)} oracle={list(exp.columns)}"
    if len(got) != len(exp):
        return f"row count differs: engine={len(got)} oracle={len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            af, bf = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            ok = np.isclose(af, bf, rtol=1e-9, atol=1e-9, equal_nan=True)
            if not ok.all():
                i = int(np.argmin(ok))
                return f"value differs col={c} row={i}: engine={af[i]!r} oracle={bf[i]!r}"
        else:
            sa = a.astype(str).where(~a.isna(), "<NA>")
            sb = b.astype(str).where(~b.isna(), "<NA>")
            eq = sa == sb
            if not eq.all():
                i = int((~eq).idxmax())
                return f"value differs col={c} row={i}: engine={a[i]!r} oracle={b[i]!r}"
    return None


def check_queries(input_dir, results_dir, queries):
    """[(query, reason)] for every query whose result is missing or wrong."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for q in queries:
        d = os.path.join(results_dir, q)
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if not files:
            bad.append((q, "no result written"))
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        sql = open(os.path.join(d, "oracle.sql")).read()
        if not sql.strip():
            bad.append((q, "no oracle SQL"))
            continue
        try:
            exp = con.execute(sql).fetch_arrow_table().to_pandas()
        except Exception as e:  # an oracle that cannot run proves nothing
            bad.append((q, f"oracle failed: {e}"))
            continue
        err = compare_frames(got, exp)
        if err:
            bad.append((q, err))
    return bad


# --------------------------------------------------------------- medallion

def delta_snapshot(table_dir):
    """Replay `_delta_log` (JSON commits only) into one pandas frame with
    the partition columns restored from each add's partitionValues."""
    live = {}
    log = os.path.join(table_dir, "_delta_log")
    for f in sorted(glob.glob(os.path.join(log, "*.json"))):
        for line in open(f):
            a = json.loads(line)
            if "add" in a:
                live[a["add"]["path"]] = a["add"].get("partitionValues") or {}
            elif "remove" in a:
                live.pop(a["remove"]["path"], None)
    parts = []
    for path, pv in live.items():
        t = pq.read_table(os.path.join(table_dir, urllib.parse.unquote(path)))
        for k, v in pv.items():
            t = t.append_column(k, pa.array([v] * t.num_rows, pa.string()))
        parts.append(t.to_pandas())
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()


def medallion_truth(silver, plan):
    """Closed form of everything the consumer phase reads and of the gold
    tables after the restatements, from the generator's silver rows."""
    rows = [dict(zip(("charter_number", "city", "name", "quarter_date", "state",
                      "website", "assets_total", "deposits_total",
                      "institution_type"), r)) for r in silver]
    for r in rows:
        r["year"] = r["quarter_date"].year
        r["quarter"] = (r["quarter_date"].month - 1) // 3 + 1
    reads = []
    for f in plan["reads"]:
        reads.append(sum(all(str(r[k]) == v for k, v in f.items()) for r in rows))
    by_state = defaultdict(lambda: [0, 0, 0])
    for r in rows:
        s = by_state[r["state"]]
        s[0] += 1; s[1] += r["assets_total"]; s[2] += r["deposits_total"]
    directory = {(r["name"], r["charter_number"], r["institution_type"], r["city"],
                  r["state"], r["website"]) for r in rows}

    merged = {m[1]: tuple(m) for m in plan["merge"]["rows"]}
    directory_after = sorted(merged.get(d[1], d) for d in directory)
    u, closed = plan["update"], set(int(c) for c in plan["delete"]["charters"])
    assets_after = []
    for r in rows:
        if r["charter_number"] in closed:
            continue
        a = r["assets_total"]
        if (r["state"], r["year"], r["quarter"]) == (u["state"], u["year"], u["quarter"]):
            a += u["delta"]
        assets_after.append((r["charter_number"], r["name"], r["state"], r["city"],
                             a, r["deposits_total"], r["year"], r["quarter"]))
    quarters = sorted({r["quarter_date"] for r in rows})
    wide = {}
    for col in ("assets_total", "deposits_total"):
        cells = defaultdict(dict)
        for r in rows:
            cells[(r["charter_number"], r["institution_type"], r["name"])][r["quarter_date"]] = r[col]
        wide[col] = sorted(k + tuple(v[q] for q in reversed(quarters))
                           for k, v in cells.items() if len(v) == len(quarters))
    return {"reads": reads,
            "scan_assets": sorted([s, *v] for s, v in by_state.items()),
            "directory": directory_after, "assets": sorted(assets_after),
            "wide": wide, "quarters": quarters, "silver_rows": len(rows)}


def check_medallion_pass(pass_dir, p, truth):
    """[(operation, reason)] for every medallion output that is wrong."""
    bad = []
    for i, (r, n) in enumerate(zip(p["extra"].get("reads", []), truth["reads"])):
        if "rows" in r and r["rows"] != n:
            bad.append((f"read{i}", f"{r['rows']} rows, expected {n} for {r['filter']}"))
    got = p["extra"].get("scan_assets")
    if got is not None and [list(x) for x in got] != truth["scan_assets"]:
        bad.append(("scan_assets", "per-state count/sums differ from the closed form"))
    if "silver_rows" in p["extra"] and p["extra"]["silver_rows"] != truth["silver_rows"]:
        bad.append(("refresh", f"silver has {p['extra']['silver_rows']} rows, "
                               f"expected {truth['silver_rows']}"))
    done = {o["name"] for o in p["ops"]}
    if "refresh" not in done:
        return bad
    gold = os.path.join(pass_dir, "lake", "gold")
    d = delta_snapshot(os.path.join(gold, "institution_directory_by_type"))
    got = sorted(zip(d["name"], d["charter_number"].astype(int), d["institution_type"],
                     d["city"], d["state"], d["website"]))
    if got != truth["directory"]:
        bad.append(("merge", "directory table differs from the closed form"))
    a = delta_snapshot(os.path.join(gold, "assets_deposits_by_state"))
    got = sorted(zip(a["charter_number"].astype(int), a["name"], a["state"], a["city"],
                     a["assets_total"].astype(int), a["deposits_total"].astype(int),
                     a["year"].astype(int), a["quarter"].astype(int)))
    if got != truth["assets"]:
        bad.append(("update/delete", "assets_deposits_by_state differs from the closed form"))
    for col, table in (("assets_total", "quarterly_assets_table"),
                       ("deposits_total", "quarterly_deposits_table")):
        w = delta_snapshot(os.path.join(gold, table))
        qcols = [q.isoformat() for q in reversed(truth["quarters"])]
        if sorted(w.columns) != sorted(["charter_number", "institution_type", "name"] + qcols):
            bad.append((table, f"columns {list(w.columns)}"))
            continue
        got = sorted(tuple([int(r[0]), r[1], r[2]] + [int(x) for x in r[3:]])
                     for r in w[["charter_number", "institution_type", "name"] + qcols]
                     .itertuples(index=False))
        if got != truth["wide"][col]:
            bad.append((table, "wide table differs from the closed form"))
    return bad
