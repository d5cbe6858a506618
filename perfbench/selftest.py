#!/usr/bin/env python3
"""Self-test of the benchmark, on the small sf0.001 tables.

Usage, from the repository root:

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, and checks that:
- the result line has exactly its four keys, the run is correct, and
  every metric named in BENCHMARK.json is present, finite and carries its
  unit;
- the traced span tree is well formed: one root, every other span's parent
  exists, self times are >= 0, and in each traced pass the query spans sum
  to the untraced pass time within the measured tracing overhead;
- the benchmark's sources name no private engine member;
- in a directory that holds only BENCHMARK.json and perfbench/, run.py
  fails without printing a result.
"""
import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402

SEED = 7
DATA = "sf0.001"
PRIVATE = ("memoBuilds", "drainMemoBuildTimes", "clearMemos", "ListenerBusDrain",
           "private[graft]")

failures = []


def check(ok, what):
    print(("PASS " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def run(workload, trace, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
                        "--trace", str(trace), "--data", DATA],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def check_metrics(w, trace, res, spec):
    names = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    check(res is not None and set(res) == {"correct", "attempted", "failed", "metrics"},
          f"{w} trace={trace}: result has exactly its four keys")
    if res is None:
        return
    check(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
          f"{w} trace={trace}: correct, {res['attempted']} attempted, {res['failed']} failed")
    got = res["metrics"]
    check(set(got) == set(names), f"{w} trace={trace}: metric names match BENCHMARK.json"
          + (f" (missing {sorted(set(names) - set(got))}, extra {sorted(set(got) - set(names))})"
             if set(got) != set(names) else ""))
    bad = [k for k, v in got.items()
           if not isinstance(v.get("value"), (int, float)) or not math.isfinite(v["value"])
           or v.get("unit") != names.get(k)]
    check(not bad, f"{w} trace={trace}: every metric finite with its unit {bad or ''}")


def check_trace(w):
    tag = f"{w}-{DATA}-s{SEED}-t1"
    with open(os.path.join(HERE, ".work", "traces", tag + ".json")) as f:
        spans = json.load(f)["spans"]
    with open(os.path.join(HERE, ".work", "results", tag + ".json")) as f:
        rec = json.load(f)
    ids = {s["id"] for s in spans}
    roots = [s for s in spans if s["parent"] == -1]
    check(len(roots) == 1 and len(ids) == len(spans), f"{w}: one root, unique span ids")
    check(all(s["parent"] in ids for s in spans if s["parent"] != -1),
          f"{w}: every other span has a parent")
    check(all(s["self_us"] >= 0 for s in spans), f"{w}: self times >= 0")
    wall = rec["end_to_end"]["wall_s"]["value"]
    overhead = rec["per_layer"]["trace.overhead_s"]["value"]
    tolerance = abs(overhead) + 0.05 * wall + 0.05
    for p in (s for s in spans if s["kind"] == "pass"):
        qsum = sum(s["end_us"] - s["start_us"] for s in spans
                   if s["parent"] == p["id"] and s["kind"] == "query") / 1e6
        check(qsum <= (p["end_us"] - p["start_us"]) / 1e6 + 1e-3
              and abs(qsum - wall) <= tolerance,
              f"{w}: {p['name']} query spans {qsum:.3f} s vs untraced wall_s {wall:.3f} s "
              f"(tracing overhead {overhead:.3f} s)")


def check_sources():
    hits = []
    for d, _, fs in os.walk(os.path.join(HERE, "src")):
        for f in fs:
            with open(os.path.join(d, f)) as fh:
                text = fh.read()
            hits += [f"{f}: {n}" for n in PRIVATE if n in text]
            if re.search(r"^package graft\b", text, re.M):
                hits.append(f"{f}: package graft")
    check(not hits, f"benchmark sources use no private engine member {hits or ''}")


def check_bare_dir():
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".build", ".work", "target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res, _ = run("graph_loops", 0, cwd=bare)
    shutil.rmtree(bare)
    check(code != 0 and res is None, f"without the engine source run.py exits {code} with no result")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_sources()
    check_bare_dir()
    for w in sorted(WORKLOADS):
        for trace in (0, 1):
            code, res, err = run(w, trace)
            check(code == 0, f"{w} trace={trace}: exit code {code}")
            if code != 0:
                sys.stderr.write(err[-3000:])
                continue
            check_metrics(w, trace, res, spec)
            if trace:
                check_trace(w)
    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
