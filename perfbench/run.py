#!/usr/bin/env python3
"""Benchmark entry point: builds the library with the benchmark harness,
runs one workload in one JVM and prints one JSON result line.

    python3 perfbench/run.py --workload keyspace_sync --seed 1 \\
        --seconds 30 --trace 0

Run it from the repository root. The first run builds with sbt (the
`perfbench/build.sbt` project, which compiles `src/main/scala` together
with `perfbench/src`); later runs reuse the classes until a source file
changes. Everything a run writes stays under `perfbench/out/` and the
sbt `target` directories.

The last stdout line is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`:
with `--trace 0` every end-to-end metric of BENCHMARK.json, with
`--trace 1` every per-layer metric (layers a workload does not run read
0; `layers.json` says which workloads run each layer). `--scale smoke`
runs on the small inputs.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
JVM_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for base in (LIB, os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        if os.path.isfile(base):
            newest = max(newest, os.path.getmtime(base))
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compiles with sbt when the classpath file is missing or older
    than any source; returns the runtime classpath."""
    if (os.path.exists(CLASSPATH)
            and os.path.getmtime(CLASSPATH) >= newest_source_mtime()):
        with open(CLASSPATH) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(CLASSPATH) as f:
        return f.read().strip()


def load_json(path):
    with open(path) as f:
        return json.load(f)


def layer_workloads(layers, metric):
    """The workloads that run the layer of a per-layer metric; the layer
    is the metric name's first component."""
    return layers["layers"][metric.split(".")[0]]["workloads"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB, "graft")):
        fail(f"library sources not found under {os.path.relpath(LIB)}; "
             "run from a full checkout")
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    layers = load_json(os.path.join(HERE, "layers.json"))
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")
    expected = load_json(os.path.join(HERE, "expected.json")).get(
        a.workload, {}).get(a.scale, {})

    cp = build()
    work = os.path.join(HERE, "out", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_file = os.path.join(HERE, "out", "traces",
                              f"{a.workload}-{a.seed}-{int(time.time())}.jsonl")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/tmp"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--data", DATA, "--work", work, "--scale", a.scale,
              "--trace-file", trace_file]
           + [x for q, h in sorted(expected.items())
              for x in ("--expect", f"{q}={h}")])
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                              text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    lines = proc.stdout.splitlines()
    results = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    for l in lines:
        if not l.startswith("PERFBENCH_RESULT "):
            print(l, file=sys.stderr)
    if proc.returncode != 0 or not results:
        fail(f"JVM exited with {proc.returncode} and no result")
    r = json.loads(results[-1][len("PERFBENCH_RESULT "):])

    if a.trace == "0":
        wanted, own = bench["end_to_end"], {m["name"] for m in bench["end_to_end"]}
    else:
        wanted = bench["per_layer"]
        own = {m["name"] for m in wanted
               if a.workload in layer_workloads(layers, m["name"])}
    missing = sorted(own - set(r["metrics"]))
    if missing:
        fail(f"run did not report {', '.join(missing)}")
    metrics = {m["name"]: {"value": r["metrics"].get(m["name"], 0.0),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
