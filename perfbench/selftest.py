"""Self-tests of the benchmark's own code (`python3 perfbench/run.py --selftest`):
the JVM side (percentile rule, self-time union, corrupted API/tail/ingest
results counted as failed), then the Python side (the spread statistic, and
corrupted ingest samples and query outputs counted as failed)."""
import json
import os
import shutil
import sys
import tempfile

import pandas as pd

import checks
import gen
import spread


def python_checks(build_dir):
    bad = []

    def expect(ok, what):
        if not ok:
            bad.append(what)

    # the spread statistic: IQR of statistics.quantiles over the median
    expect(abs(spread.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) - (8.25 - 2.75) / 5.5) < 1e-12, "spread of 1..10")
    expect(spread.spread([5.0] * 10) == 0.0, "spread of constants")

    tmp = tempfile.mkdtemp(prefix="selftest-py-", dir=build_dir)
    try:
        # ingest sample: a faithful row passes, a corrupted one fails
        cols = gen.write_events(os.path.join(tmp, "ev"), 7, 50)
        ts = cols["ts"].cast("int64").to_pylist()
        row = {"offset": 3, "id": "3", "event_id": 3, "ts_us": ts[3],
               "user_id": cols["user_id"][3].as_py(), "event_type": cols["event_type"][3].as_py(),
               "value": cols["value"][3].as_py(), "props": cols["props"][3].as_py()}
        sample = os.path.join(tmp, "sample.jsonl")

        def ingest(rows):
            with open(sample, "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
            return checks.ingest_sample(sample, cols)[1]
        expect(ingest([row]) == 0, "a faithful ingest sample passes")
        expect(ingest([dict(row, value=row["value"] + 0.01)]) == 1, "a changed value fails")
        expect(ingest([dict(row, offset=4)]) == 1, "a row at the wrong offset fails")
        expect(ingest([]) == 1, "an empty sample fails")

        # query outputs against the oracle on the same tables
        data = os.path.join(tmp, "tables")
        gen.write_tables(data, 7, 0.0002)
        out = os.path.join(tmp, "out")
        sql = {"q_ok": "SELECT n_nationkey, n_name FROM nation ORDER BY 1",
               "q_bad": "SELECT n_nationkey, n_name FROM nation ORDER BY 1"}
        nations = pd.read_parquet(os.path.join(data, "nation.parquet"))[["n_nationkey", "n_name"]]
        for q, df in (("q_ok", nations), ("q_bad", nations.assign(n_name=nations.n_name.str.lower())),
                      ("q_rows", nations.head(0))):
            os.makedirs(os.path.join(out, q))
            df.to_parquet(os.path.join(out, q, "part-0.parquet"))
        attempted, failed, msgs = checks.suite(out, data, ["q_ok", "q_bad", "q_rows", "q_missing"], sql)
        expect((attempted, failed) == (4, 3), f"suite check: {attempted} attempted, {failed} failed {msgs}")
        expect(all(not m.startswith("q_ok") for m in msgs), "the faithful query output passes")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for b in bad:
        print(f"selftest FAILED: {b}", file=sys.stderr)
    print("selftest: Python checks " + ("passed" if not bad else f"failed ({len(bad)})"), file=sys.stderr)
    return not bad


def main(classes, jars, build_dir, jvm):
    work = tempfile.mkdtemp(prefix="selftest-", dir=build_dir)
    try:
        jvm_ok = jvm(classes, jars, "graftbench.SelfTest", [], "512m", work, 120) == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    py_ok = python_checks(build_dir)
    return 0 if jvm_ok and py_ok else 1
