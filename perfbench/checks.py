"""Correctness checks made outside the JVM, against the generated inputs.

Each function returns (attempted, failed, messages).
"""
import datetime
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def ingest_sample(sample_path, cols):
    """Parsed rows read back through `Ingest.parsed` equal the generated feed."""
    ids = cols["event_id"].to_numpy()
    ts = cols["ts"].cast("int64").to_numpy()
    user = cols["user_id"].to_numpy()
    etype = cols["event_type"].to_pylist()
    value = cols["value"].to_numpy()
    props = cols["props"].to_pylist()
    attempted = failed = 0
    msgs = []
    with open(sample_path) as f:
        rows = [json.loads(line) for line in f]
    for r in rows:
        attempted += 1
        o = r["offset"]
        ok = (0 <= o < len(ids) and r["event_id"] == ids[o] and r["id"] == str(ids[o])
              and r["ts_us"] == ts[o] and r["user_id"] == user[o]
              and r["event_type"] == etype[o] and r["value"] == value[o]
              and r["props"] == props[o])
        if not ok:
            failed += 1
            if len(msgs) < 10:
                msgs.append(f"ingest sample offset {o}: {r}")
    attempted += 1
    if not rows:
        failed += 1
        msgs.append("ingest sample is empty")
    return attempted, failed, msgs


def _cell(v):
    """One output cell, normalised the way the project's oracle compare does:
    floats to 4 places, midnight timestamps as dates."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (np.ndarray, list, tuple)):
        return repr([_cell(x) for x in v])
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime) and v.time() == datetime.time(0, 0):
        v = v.date()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        v = round(v, 4)
        if v == 0:
            v = 0.0
    if v is None or v is pd.NA or v is pd.NaT:
        return "NULL"
    return repr(v)


def _rows(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None))
    return cols, rows


def suite(out_dir, data_dir, names, oracle):
    """Each query's parquet output equals its oracle SQL on DuckDB over the
    same tables; a query without oracle SQL must return rows."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    attempted = failed = 0
    msgs = []
    for q in names:
        attempted += 1
        path = os.path.join(out_dir, q)
        try:
            got = pd.read_parquet(path)
            if q in oracle:
                exp = con.execute(oracle[q]).df()
                gc, gr = _rows(got)
                ec, er = _rows(exp)
                ok, why = (gc == ec and gr == er), f"{len(gr)} rows vs oracle {len(er)}"
                if gc != ec:
                    why = f"columns {gc} vs oracle {ec}"
            else:
                ok, why = len(got) > 0, "no rows"
        except Exception as e:  # a missing or unreadable output is a failure
            ok, why = False, f"{type(e).__name__}: {e}"
        if not ok:
            failed += 1
            msgs.append(f"{q}: {why}")
    return attempted, failed, msgs
