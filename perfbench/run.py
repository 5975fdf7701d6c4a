#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload f1_trickle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program from source first
(see build.py), runs the workload in one JVM with Spark at local[<=4], checks
its outputs against the batch paths, and prints one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list; each
value carries its unit. Lines before it carry the run's stamp (source hash,
seed, nproc, Spark cores, JVM), validity and per-workload detail.
"""
import argparse
import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 178


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp, digest = build.build()

    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    log_path = os.path.join(build.OUT, f"jvm-{a.workload}-seed{a.seed}.log")
    code, out = build.run_main(cp, work, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                          os.path.join(work, "run"), digest],
                               log_path, TIMEOUT_S, build.share_flag())
    if code is None:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"timed out after {TIMEOUT_S} s; log in {log_path}", 3)
    spans = os.path.join(work, "run", "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(build.OUT, "traces", f"spans-{a.workload}-seed{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"JVM exited with code {code}; log in {log_path}", 4)
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)

    # BENCHMARK.json decides which of the measured metrics a run reports
    got = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"metrics named in BENCHMARK.json were not measured: {missing}")
    metrics = {}
    for m in wanted:
        v = got[m["name"]]
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} is not a finite number: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    # an invalid run measured something other than the workload it names
    # (a trigger read other than one segment), so its figures are not
    # taken as correct
    correct = bool(result["correct"]) and bool(result["valid"])
    if not result["valid"]:
        print("perfbench: run is invalid; see the validity line", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
