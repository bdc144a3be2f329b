#!/usr/bin/env python3
"""Benchmark of the iepyspark engine (see BENCHMARK.json for the
workloads and metrics, and perfbench/README.md for what each measures).

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py),
runs one benchmark JVM at local[nproc], checks its outputs, and prints
one JSON object as the last line of standard output:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of the traced run (spans land in .bench_build/traces/).
"""
import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# a run must end within 180 s; the JVM and the output check share this
BUDGET_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def oracle_failures(work, deadline):
    """Runs the repository's DuckDB oracle compare (tools/compare_oracle.py)
    over the query results of each operation (<work>/check<op>); returns
    the queries it reports as failed, one entry per failing operation."""
    tables = open(os.path.join(work, "tables_dir")).read()
    bad = []
    for check in sorted(glob.glob(os.path.join(work, "check*", "oracle_sql.json"))):
        r = subprocess.run([sys.executable, os.path.join("tools", "compare_oracle.py"),
                            tables, os.path.dirname(check)],
                           capture_output=True, text=True,
                           timeout=deadline - time.monotonic())
        failed = [l.split()[1].rstrip(":") for l in r.stdout.splitlines()
                  if l.startswith(("FAIL", "ERR"))]
        if r.returncode != 0 and not failed:
            sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
            failed = ["compare_oracle"]
        bad += failed
    return bad


def recorded_run_s(workload):
    """run_s of every correct untraced run of `workload` since the last
    build of this checkout."""
    path = os.path.join(build.UNTRACED, f"{workload}.jsonl")
    if not os.path.exists(path):
        return []
    return [json.loads(l)["run_s"] for l in open(path)]


def run_jvm(a, classpath, deadline):
    """Runs one benchmark JVM and checks its outputs. Returns its result
    (see Main.scala) with the step failures the oracle check found added
    to `failed`; a run with wrong results keeps none of its times."""
    cp, cds = classpath
    work = os.path.join(build.BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(build.BUILD_DIR, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (["java", f"-Xms{build.heap()}", f"-Xmx{build.heap()}",
            f"-Djava.io.tmpdir={work}/tmp"] + cds + build.JVM_FLAGS
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--trace", str(a.trace),
              "--work", work, "--cores", str(build.cores())])
    try:
        t0 = time.monotonic()
        with open(log, "w") as out:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               timeout=deadline - t0)
        t1 = time.monotonic()
        res_file = os.path.join(work, "result.json")
        if r.returncode != 0 or not os.path.exists(res_file):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"benchmark JVM exited with {r.returncode}; log in {log}")
        res = json.load(open(res_file))
        bad = oracle_failures(work, deadline) if a.workload == "driver_suite" else []
        print(f"perfbench: JVM {t1 - t0:.1f} s, oracle check {time.monotonic() - t1:.1f} s",
              file=sys.stderr)
        if a.trace:
            traces = os.path.join(build.BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
    except subprocess.TimeoutExpired as e:
        fail(f"{e.cmd[0]} exceeded the run's {BUDGET_S} s; log in {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not a.trace and res["failed"] == 0 and not bad:
        os.makedirs(build.UNTRACED, exist_ok=True)
        with open(os.path.join(build.UNTRACED, f"{a.workload}.jsonl"), "a") as fh:
            fh.write(json.dumps({"seed": a.seed, "run_s": res["metrics"]["run_s"]}) + "\n")
    if bad:
        print(f"perfbench: results differ from the DuckDB oracle: {bad}", file=sys.stderr)
        res["failed"] = min(res["attempted"], res["failed"] + len(bad))
        res["metrics"] = {k: v for k, v in res["metrics"].items()
                          if k in ("setup_s", "peak_rss_mb")}
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open("BENCHMARK.json"))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    classpath = build.classpath()
    deadline = time.monotonic() + BUDGET_S
    res = run_jvm(a, classpath, deadline)
    attempted, failed = res["attempted"], res["failed"]
    values = res["metrics"]
    if a.trace:
        # tracing overhead: against the untraced runs of this workload in
        # this checkout, or a fresh one when there are none
        untraced = recorded_run_s(a.workload)
        if not untraced:
            plain = run_jvm(argparse.Namespace(**{**vars(a), "trace": 0}),
                            classpath, deadline)
            attempted += plain["attempted"]
            failed += plain["failed"]
            untraced = recorded_run_s(a.workload)
        u = statistics.median(untraced) if untraced else math.nan
        values.update({"trace.untraced_run_s": u,
                       "trace.overhead_s": values.get("trace.run_s", math.nan) - u})
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        name = m["name"]
        v = values.get(name)
        if v is None and a.trace and name.split(".")[0] not in res["layers"]:
            v = 0.0  # this workload does not call that layer
        if v is None or (isinstance(v, float) and math.isnan(v)):
            print(f"perfbench: metric {name} missing", file=sys.stderr)
            failed = max(failed, 1)
            continue
        metrics[name] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
