#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. The first run builds the program and the
benchmark's JVM side from source (`perfbench/build.py`). Inputs are
generated from the seed; everything the run writes stays under
`.bench_build/` and `.bench_work/`. With `--trace 0` the result carries
the end-to-end metrics of BENCHMARK.json, measured untraced; with
`--trace 1` it carries the per-layer metrics of a separate traced phase
(plus the untraced phase it is compared with, and a one-core phase).
The traced phase's per-op ledger and spans land in
`.bench_work/last/<workload>/`. Workloads, query lists and the
layer -> end-to-end map live in `perfbench/workloads.json`.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170
# Task slots of the session (`local[N]`). These workloads gain little
# from more than one core (with four slots spark.speedup_vs_1 read
# 0.97-1.09 on both), and on a shared host every thread past the first
# few mostly measures the scheduler: with two slots the JIT and GC
# threads keep cores of their own. The JVM's GC threads are capped to
# match.
SLOTS = 2


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)["workloads"]
    if a.workload not in cfg:
        fail(f"unknown workload '{a.workload}' (known: {', '.join(cfg)})")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        classes = build.build(root, os.path.join(root, ".bench_build"))
        jars = build.spark_jars(root)
    except build.BuildError as e:
        fail(f"build failed: {e}", 3)
    w = cfg[a.workload]
    t0 = time.time()  # set-up starts after the build
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run(a, w, root, work, classes, jars, t_start)
    finally:
        keep = os.path.join(root, ".bench_work", "last", a.workload)
        for f in ("ledger.jsonl", "spans.jsonl", "jvm.log"):
            if os.path.exists(os.path.join(work, f)):
                os.makedirs(keep, exist_ok=True)
                shutil.copy(os.path.join(work, f), os.path.join(keep, f))
        shutil.rmtree(work, ignore_errors=True)
    t_end = time.time()

    queries = w.get("queries", [])
    oracle_bad = result.pop("oracle_bad")
    attempted = int(result["attempted"]) + len(queries)
    failed = int(result["failed"]) + len(oracle_bad)
    for f in result["failures"]:
        print(f"[perfbench] FAILED {f['op']} (x{f['count']}): {f['error']}", file=sys.stderr)
    for q, err in oracle_bad:
        print(f"[perfbench] FAILED oracle:{q}: {err}", file=sys.stderr)
    if a.trace:
        values = dict(result["per_layer"])
        wanted = spec["per_layer"]
    else:
        values = dict(result["end_to_end"])
        values["setup_s"] = (t_end - t0) - result["timed_ms"] / 1000.0
        values["ok_ratio"] = 1.0 - failed / attempted
        wanted = spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        print(f"[perfbench] no value for {', '.join(missing)}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def run(a, w, root, work, classes, jars, t_start):
    """Generate inputs, run the JVM side, check query results."""
    data, rows = "", {}
    if "sf" in w:
        import gen
        data = os.path.join(work, "data")
        rows = gen.write(w["sf"], a.seed, data)
    cores = min(SLOTS, len(os.sched_getaffinity(0)))
    out = os.path.join(work, "result.json")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xms2g", "-Xmx2g",
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp")]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", data or "-",
            "--cores", str(cores), "--out", out, "--queries", ",".join(w.get("queries", [])) or "-",
            "--table-rows", ",".join(f"{t}={n}" for t, n in rows.items()) or "-"]
    budget = max(30, RUN_LIMIT_S - (time.time() - t_start))
    t = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM side exceeded {budget:.0f} s; see .bench_work/last/{a.workload}/jvm.log", 4)
    print(f"[perfbench] JVM side {time.time() - t:.1f} s", file=sys.stderr)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM side exited with {rc} and no result", 4)
    with open(out) as fh:
        result = json.load(fh)
    result["oracle_bad"] = []
    if w.get("queries"):
        import oracle
        t = time.time()
        result["oracle_bad"] = oracle.check(os.path.join(work, "results"), data,
                                            w["queries"], root)
        print(f"[perfbench] oracle check {time.time() - t:.1f} s", file=sys.stderr)
    return result


if __name__ == "__main__":
    main()
