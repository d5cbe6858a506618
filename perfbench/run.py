#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 10 --trace 0

The engine and the benchmark's own Scala package are compiled with sbt on
the first run in a checkout (the classpath is kept in perfbench/.build and
reused while no source changes). Each run then starts one JVM on
local[nproc] with a heap sized from MemTotal, as the repository's test
command sizes SPARK_DRIVER_MEM. The JVM writes a full record of the run to
perfbench/.work/results (and, traced, the spans to perfbench/.work/traces);
the last line on stdout is the result as one JSON object.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

# workload -> (action on each query result, seconds one timed pass takes on
# the 4-core box in perfbench/README.md); the key lists are in workloads/
WORKLOADS = {
    "graph_loops": ("count", 3.75),
    "pipeline_write": ("write", 5.0),
}

# Spark on JDK 17 outside spark-submit needs the module openings that the
# root build passes to its forked JVMs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """MemTotal / 2 GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def passes(workload, seconds):
    """The fixed number of timed passes: whole rotations of the key list
    (each key opens a session once per rotation), as many as fill --seconds
    at the nominal pass time, and at least one rotation."""
    with open(os.path.join(HERE, "workloads", workload + ".txt")) as f:
        n = sum(1 for l in f if l.strip() and not l.strip().startswith("#"))
    rotation_s = n * WORKLOADS[workload][1]
    return n * max(1, round(seconds / rotation_s))


def sources():
    """Every file the build reads from the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile (if any source changed since the last build) and return the
    benchmark's runtime classpath."""
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(f):
            die(f"engine source not found ({os.path.relpath(f, ROOT)}); "
                "run from the root of a repository checkout")
    cp_file = os.path.join(BUILD, "classpath.txt")
    want = stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            have, cp = f.read().split("\n", 1)
        if have == want:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"build did not finish in {BUILD_TIMEOUT_S} s")
    except FileNotFoundError:
        die("sbt not found on PATH")
    lines = [l for l in p.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die(f"build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(want + "\n" + cp + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--data", default="sf0.01",
                    help="table set under perfbench/data (sf0.001 for smoke runs)")
    ap.add_argument("--fingerprint-out",
                    help="run the warm pass only and write each key's fingerprint here")
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")

    data = os.path.join(HERE, "data", a.data)
    keys = os.path.join(HERE, "workloads", a.workload + ".txt")
    expected = os.path.join(HERE, "fingerprints", a.data + ".tsv")
    for f in (data, keys):
        if not os.path.exists(f):
            die(f"missing {os.path.relpath(f, ROOT)}")
    cp = classpath()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap_gb()}g", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds),
              "--passes", str(passes(a.workload, a.seconds)), "--trace", str(a.trace),
              "--cores", str(cores()), "--data", data, "--work", WORK,
              "--keys", keys, "--action", WORKLOADS[a.workload][0],
              "--start-us", str(time.time_ns() // 1000)])
    if a.fingerprint_out:
        cmd += ["--fingerprint-out", os.path.abspath(a.fingerprint_out)]
    elif os.path.exists(expected):
        cmd += ["--expected", expected]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die(f"run did not finish in {RUN_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    if p.returncode != 0 or not lines:
        die(f"benchmark JVM exited with {p.returncode}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
