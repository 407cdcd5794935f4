#!/usr/bin/env python3
"""The repository's benchmark: the offset-log service path (ingest, API,
watch) beside the analytics query suite.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the program and the
benchmark into `$CARGO_TARGET_DIR` (default `.bench_build`); inputs are
generated from the seed; the JVM harness (`perfbench/src`) runs the workload
and checks its outputs; the last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics` — the end-to-end metrics of
BENCHMARK.json, or with `--trace 1` its per-layer metrics (0 for a layer the
workload does not run). Traced runs also leave their spans in
`<build dir>/traces/<workload>.jsonl`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("ingest_replay", "serve_mixed", "watch_tail", "query_suite")
INGEST_EVENTS = 100_000
INGEST_WARMUP_EVENTS = 10_000
SUITE_SCALE = 0.01
SUITE_TABLES_SEED = 42
# the harness's limit, counted from the end of the build: a run that does not
# build must end within 180 s, and the first, which builds, within 900 s
DEADLINE_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def jvm(classes, jars, main, args, heap, work, timeout):
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + ADD_OPENS +
           ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", main] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None


def run(a, root, build_dir, classes, jars, t_built):
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    runs = os.path.join(build_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    try:
        data = os.path.join(work, "data")
        cols = None
        if a.workload in ("ingest_replay", "query_suite"):
            import gen
        if a.workload == "ingest_replay":
            cols = gen.write_events(data, a.seed, INGEST_EVENTS)
            gen.write_events(os.path.join(data, "warmup"), a.seed + 1, INGEST_WARMUP_EVENTS)
        elif a.workload == "query_suite":
            # one fixed set of tables, as the project's test data is
            gen.write_tables(data, SUITE_TABLES_SEED, SUITE_SCALE)
        out = os.path.join(work, "result.json")
        heap = "2g" if a.workload == "serve_mixed" else "3g"
        left = DEADLINE_S - (time.time() - t_built)
        code = jvm(classes, jars, "graftbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--data", data, "--work", work, "--out", out,
                    "--cpus", str(cpus)], heap, work, left)
        if code != 0:
            sys.exit(f"perfbench: harness {'timed out' if code is None else f'exited with {code}'}")
        with open(out) as f:
            res = json.load(f)
        attempted, failed, msgs = res["attempted"], res["failed"], list(res["failures"])
        if a.workload in ("ingest_replay", "query_suite"):
            import checks
        extra = (0, 0, [])
        if a.workload == "ingest_replay":
            extra = checks.ingest_sample(os.path.join(work, "ingest_sample.jsonl"), cols)
        elif a.workload == "query_suite":
            with open(os.path.join(work, "oracle_sql.json")) as f:
                oracle = json.load(f)
            names = sorted(os.listdir(os.path.join(work, "out")))
            extra = checks.suite(os.path.join(work, "out"), data, names, oracle)
        attempted += extra[0]
        failed += extra[1]
        msgs += extra[2]
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(traces, f"{a.workload}.jsonl"))
        return res, attempted, failed, msgs
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, build_dir, res, attempted, failed):
    s = spec()
    layers = dict(res["layers"])
    layers["failed_share"] = failed / max(1, attempted)
    if a.trace:
        for k, v in res["e2e"].items():
            if k != "setup_s" and k != "live_heap_mb":
                layers[f"traced.{k}"] = v
        unknown = set(layers) - {m["name"] for m in s["per_layer"]}
        if unknown:
            sys.exit(f"perfbench: per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        chosen = s["per_layer"]
        values = {m["name"]: layers.get(m["name"], 0.0) for m in chosen}
        last = os.path.join(build_dir, "last", f"{a.workload}.json")
        if os.path.isfile(last):
            with open(last) as f:
                base = json.load(f)
            for k in ("median_ms", "tail_ms", "throughput_per_s"):
                if base.get(k):
                    print(f"perfbench: tracing overhead on {k}: traced {res['e2e'][k]:.6g} vs untraced "
                          f"{base[k]:.6g} ({100 * (res['e2e'][k] / base[k] - 1):+.1f}%)", file=sys.stderr)
    else:
        chosen = s["end_to_end"]
        missing = [m["name"] for m in chosen if res["e2e"].get(m["name"]) in (None, 0)]
        if missing:
            sys.exit(f"perfbench: end-to-end metrics not measured: {missing}")
        values = {m["name"]: res["e2e"][m["name"]] for m in chosen}
        os.makedirs(os.path.join(build_dir, "last"), exist_ok=True)
        with open(os.path.join(build_dir, "last", f"{a.workload}.json"), "w") as f:
            json.dump(res["e2e"], f)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen}}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=spec()["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit("perfbench: run from the root of a checkout of the program (no src/main/scala here)")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build.build(root, build_dir)
    t_built = time.time()
    jars = build.jars_dir(root)
    if a.selftest:
        import selftest
        sys.exit(selftest.main(classes, jars, build_dir, jvm))
    if not a.workload:
        p.error("--workload is required")
    res, attempted, failed, msgs = run(a, root, build_dir, classes, jars, t_built)
    for m in msgs:
        print(f"perfbench: check failed: {m}", file=sys.stderr)
    print(json.dumps(report(a, build_dir, res, attempted, failed)))


if __name__ == "__main__":
    main()
